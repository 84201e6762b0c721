"""Plan-build guards for the flagship chain.

``quality_filter`` and ``revalidate`` build their Columns once per live
SparkContext and apply them one projection per dependency level. These
tests pin that the diet changes only the driver-side cost:

- the normalized optimized plans equal fixtures taken from the
  per-``withColumn`` chain they replaced (``tests/fixtures/plans``);
- a warm ``quality_filter`` build stays within a py4j round-trip budget;
- the stage memo stays within its bound, and its cache is an LRU that
  holds under concurrent use;
- a stopped and restarted SparkContext in one process gets fresh UDFs
  (no stale accumulator) and the same rows.

Regenerate the fixtures (only when a plan change is intended) with
``PYTHONPATH=. python tests/test_plan_build.py`` from the repository
root.
"""

import gc
import os
import re
import subprocess
import sys
import threading

from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.dsl.registry import builtin_rules
from fingerprint_spark.pipeline import (
    default_ppl_model, quality_filter, quality_filter_text, revalidate,
)

PLAN_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "plans")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY4J_BUDGET = 400  # round trips of one warm quality_filter build


def normalize_plan(plan: str) -> str:
    """Strip the parts of a plan string that vary from build to build:
    expression ids (``#12``, ``#12L``) and lambda-variable suffixes."""
    plan = re.sub(r"#\d+L?", "", plan)
    return re.sub(r"(lambda [A-Za-z_]\w*?)_\d+\b", r"\1", plan)


def optimized_plan(df) -> str:
    return normalize_plan(df._jdf.queryExecution().optimizedPlan().toString())


def tiny_frames(spark, work_dir: str):
    """(input, stored) parquet-backed frames: 12 generated docs, and the
    quality_filter output of them with the stored fingerprint renamed
    (the shape a revalidate pass reads)."""
    src = os.path.join(work_dir, "input")
    generate_corpus(spark, 12, partitions=1).write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    stored = os.path.join(work_dir, "stored")
    quality_filter(df).write.mode("overwrite").parquet(stored)
    return df, spark.read.parquet(stored).withColumnRenamed("fingerprint", "_stored")


def plans(spark, work_dir: str) -> dict[str, str]:
    df, stored = tiny_frames(spark, work_dir)
    return {
        "quality_filter": optimized_plan(quality_filter(df)),
        "quality_filter_text": optimized_plan(
            quality_filter_text(df, ppl_model=default_ppl_model())
        ),
        "revalidate": optimized_plan(revalidate(stored, builtin_rules())),
    }


def _fixture(name: str) -> str:
    with open(os.path.join(PLAN_DIR, f"{name}.txt")) as f:
        return f.read()


def test_optimized_plans_match_fixtures(spark, tmp_path):
    got = plans(spark, str(tmp_path))
    for name, plan in got.items():
        assert plan == _fixture(name), name


def test_quality_filter_langid_rides_the_enrich_pass(spark):
    """Both chains score marker-word language ID with the kernel in one
    Arrow pass: the flagship chain inside its enrich UDF, the text chain
    in one ArrowEvalPython node that also scores perplexity when a ppl
    model is given. No executed plan runs langid_best's marker-regex
    splits."""
    from fingerprint_spark.functions.langid import LANGS, marker_pattern

    df = generate_corpus(spark, 8, partitions=1)

    def executed(out) -> str:
        return out._jdf.queryExecution().executedPlan().toString()

    for out in (
        quality_filter(df),
        quality_filter_text(df),
        quality_filter_text(df, ppl_model=default_ppl_model()),
    ):
        plan = executed(out)
        assert plan.count("ArrowEvalPython") == 1, plan
        for lang in LANGS:
            assert marker_pattern(lang) not in plan, lang


def test_warm_build_py4j_budget(spark):
    df = generate_corpus(spark, 8, partitions=1)
    quality_filter(df)  # warm: the stage Columns are memoized here
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    calls = [0]
    builder = threading.get_ident()

    def counting(*args, **kwargs):
        # py4j's finalizer worker thread sends the deletes of JavaObjects
        # freed earlier, whenever it gets to them: count the build's
        # own thread only
        if threading.get_ident() == builder:
            calls[0] += 1
        return orig(*args, **kwargs)

    # a JavaObject's finalizer is a py4j call too: collect what earlier
    # tests left before counting, and let no collection run while counting
    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        quality_filter(df)
    finally:
        del client.send_command  # back to the class method
        gc.enable()
    assert 0 < calls[0] <= PY4J_BUDGET, calls[0]


def test_stage_memo_stays_bounded(spark):
    from fingerprint_spark.dsl.model import FingerprintDefinition, make_clause
    from fingerprint_spark.pipeline import _STAGES

    out = quality_filter(generate_corpus(spark, 4, partitions=1))
    for i in range(_STAGES.maxsize + 3):
        rule = FingerprintDefinition(
            fingerprint_id=f"probe_{i}.v1",
            format="html",
            assertions=(
                make_clause("text_regex", "probe", {"pattern": f"probe{i}"}),
            ),
            source="builtin",
            source_hash=f"md5:probe{i}",
        )
        revalidate(out, [rule])
        assert len(_STAGES) <= _STAGES.maxsize
    assert len(_STAGES) == _STAGES.maxsize


def test_list_param_rules_hit_the_stage_memo(spark, monkeypatch):
    """A rule with list parameters (soi-pack.v1's header tokens) hashes,
    so a second quality_filter build with it reuses the memoized stage
    Columns instead of rebuilding them."""
    import fingerprint_spark.pipeline as pipeline
    from fingerprint_spark.dsl.registry import Registry

    rules = [Registry.load_dir(os.path.join(REPO, "rules")).get("soi-pack.v1")]
    df = generate_corpus(spark, 4, partitions=1)
    quality_filter(df, rules)
    builds = []
    build = pipeline._html_levels
    monkeypatch.setattr(
        pipeline, "_html_levels", lambda r: builds.append(r) or build(r)
    )
    quality_filter(df, rules)
    assert builds == []


def test_context_cache_is_lru_and_skips_unhashable_keys(spark):
    from fingerprint_spark.caching import ContextCache

    cache = ContextCache(maxsize=2)
    builds = []

    def get(key):
        return cache.get(key, lambda: builds.append(key) or len(builds))

    assert [get("a"), get("b"), get("a")] == [1, 2, 1]
    get("c")  # evicts "b", the least recently used
    assert len(cache) == 2 and get("a") == 1 and get("b") == 4
    assert get(["unhashable"]) == 5 and get(["unhashable"]) == 6
    assert len(cache) == 2


def test_context_cache_under_threads(spark):
    """More threads than cores hammer one small cache: every get returns
    the value built for its own key and the bound holds throughout."""
    from concurrent.futures import ThreadPoolExecutor

    from fingerprint_spark.caching import ContextCache

    cache = ContextCache(maxsize=3)
    sizes = []

    def work(seed: int) -> int:
        bad = 0
        for i in range(2000):
            key = (seed * 7 + i) % 5
            bad += cache.get(key, lambda: ("built", key)) != ("built", key)
            sizes.append(len(cache))
        return bad

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=4 * (os.cpu_count() or 2)) as pool:
            futures = [pool.submit(work, s) for s in range(16)]
            bad = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert bad == [0] * 16
    assert max(sizes) <= cache.maxsize


_RESTART_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.pipeline import quality_filter
from fingerprint_spark.session import get_spark

def rows():
    spark = get_spark("plan_build_restart", cores=2)
    out = quality_filter(generate_corpus(spark, 20, partitions=2))
    got = sorted(tuple(r) for r in out.select(
        "url", "keep", "drop_reason", "ppl", "simhash").collect())
    spark.stop()
    return got

first, second = rows(), rows()
assert first == second, "rows differ after a SparkContext restart"
print("RESTART_OK", len(first))
"""


def test_restarted_context_gets_fresh_udfs(tmp_path):
    """Two SparkContexts in one process: the second must not reuse the
    first one's Python UDFs (their accumulator belongs to a stopped
    context, so every UDF task would log an accumulator error)."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT.format(repo=REPO)],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    log = proc.stdout + proc.stderr
    assert proc.returncode == 0, log[-4000:]
    assert "RESTART_OK 20" in proc.stdout, log[-4000:]
    assert "Failed to update accumulator" not in log, log[-4000:]
    assert "EOF reached before Python server acknowledged" not in log


if __name__ == "__main__":
    import tempfile

    from fingerprint_spark.session import get_spark

    spark = get_spark("plan_fixtures", cores=2)
    os.makedirs(PLAN_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory() as work:
        for name, plan in plans(spark, work).items():
            with open(os.path.join(PLAN_DIR, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(name, len(plan))
    spark.stop()
