"""Deployment-shape test: the pipeline via spark-submit --py-files
(north_rule: 'run via spark-submit --py-files on a multi-executor
cluster'). Exercises the real cluster launch path, not the library API."""

import json
import os
import subprocess

import pytest

from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.deploy import build_pyfiles_zip
from helpers import write_corpus_partitioned

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_spark_submit_pipeline_and_resume(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    write_corpus_partitioned(generate_corpus(spark, 200, partitions=4), corpus)
    zip_path = build_pyfiles_zip(str(tmp_path / "pyfiles.zip"))

    def submit(*extra):
        r = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]",
             "--conf", "spark.ui.enabled=false",
             "--py-files", zip_path,
             os.path.join(REPO, "scripts", "run_pipeline.py"),
             "--input", corpus, "--output", out, "--buckets", "3", *extra],
            capture_output=True, text=True, timeout=420,
        )
        return r

    r1 = submit()
    assert r1.returncode == 0, r1.stderr[-2000:]
    summary = json.loads(r1.stdout.strip().splitlines()[-1])
    assert summary["outcome"] == "OK"
    assert summary["processed_buckets"] == [0, 1, 2]
    assert summary["metrics"]["docs_scanned"] == 200

    # rerun without --resume: refused (committed output protected)
    r2 = submit()
    assert r2.returncode != 0
    assert "committed buckets" in (r2.stderr + r2.stdout)

    # rerun with --resume: nothing recomputed
    r3 = submit("--resume")
    assert r3.returncode == 0, r3.stderr[-2000:]
    s3 = json.loads(r3.stdout.strip().splitlines()[-1])
    assert s3["processed_buckets"] == []
    assert s3["skipped_buckets"] == [0, 1, 2]

    got = spark.read.parquet(out + "/bucket=*")
    assert got.count() == 200


def test_cli_display_surfaces_short_circuit():
    """--describe/--schema/--list/--version exit 0 with JSON/banner output
    even alongside invalid args, before argument validation
    (cli_smoke_surfaces.rs:417 analog) — and need no SparkSession."""
    import sys

    script = os.path.join(REPO, "scripts", "run_pipeline.py")

    def run(*args):
        return subprocess.run(
            [sys.executable, script, *args], capture_output=True, text=True,
            timeout=60,
        )

    d = run("--describe", "--jobs", "nope")
    assert d.returncode == 0
    desc = json.loads(d.stdout)
    assert desc["name"] == "fingerprint_spark"
    assert desc["schema_version"] == "spark-operator.v0"
    assert "exit_codes" in desc and "refusals" in desc and "pipeline" in desc
    assert any(o["flag"] == "--resume" for o in desc["options"])
    assert "html" in desc["capabilities"]["formats"]

    s = run("--schema", "--jobs", "nope")
    assert s.returncode == 0
    assert "properties" in json.loads(s.stdout)

    l = run("--list", "--rules-dir", os.path.join(REPO, "rules"))
    assert l.returncode == 0
    assert "soi-pack.v1" in l.stdout and "spam_pharma.v1" in l.stdout

    v = run("--version", "--jobs", "nope")
    assert v.returncode == 0
    assert v.stdout.startswith("fingerprint_spark ")


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_pipeline_diagnose_mode(spark, tmp_path):
    """--diagnose adds a per-unmatched-doc diagnosis column with
    full-evaluation context (the reference's --diagnose run mode)."""
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    write_corpus_partitioned(generate_corpus(spark, 60, partitions=2), corpus)
    zip_path = build_pyfiles_zip(str(tmp_path / "pyfiles.zip"))
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"),
         "--input", corpus, "--output", out, "--buckets", "2", "--diagnose"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode in (0, 1), r.stderr[-2000:]
    got = spark.read.parquet(os.path.join(out, "bucket=*"))
    assert "diagnosis" in got.columns
    import pyspark.sql.functions as FX

    unmatched = got.filter(~FX.col("fingerprint.matched"))
    n_unmatched = unmatched.count()
    assert n_unmatched > 0
    assert unmatched.filter(FX.col("diagnosis").isNotNull()).count() == n_unmatched
    one = json.loads(unmatched.select("diagnosis").first()["diagnosis"])
    assert any(k.startswith("rule_") for k in one)
    r0 = one["rule_0"]
    assert "result" in r0 and "context" in r0


def test_cli_compile_surface():
    """`compile <yaml> --check` validates session-free; full compile
    emits the CompiledFingerprint descriptor with the Catalyst
    expression; `compile --schema` is a draft-2020-12 JSON Schema with
    per-assertion $defs; invalid rules exit 2 (compile surface of
    cli_smoke_surfaces.rs)."""
    import sys

    script = os.path.join(REPO, "scripts", "run_pipeline.py")

    def run(*args):
        return subprocess.run(
            [sys.executable, script, *args], capture_output=True, text=True,
            timeout=120,
        )

    good = os.path.join(REPO, "rules", "soi-pack.v1.fp.yaml")
    chk = run("compile", good, "--check")
    assert chk.returncode == 0 and chk.stdout.strip() == "OK soi-pack.v1"

    sch = run("compile", "--schema")
    assert sch.returncode == 0
    schema = json.loads(sch.stdout)
    assert schema["$schema"].endswith("2020-12/schema")
    assert "html" in schema["properties"]["format"]["enum"]
    for key in ("assertion_header_token_search", "assertion_dominant_column_count",
                "assertion_full_width_row", "assertion_page_section_count"):
        assert key in schema["$defs"], key

    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".fp.yaml", delete=False) as f:
        f.write("fingerprint_id: x.v1\nformat: html\nassertions:\n  - bogus: {}\n")
        bad = f.name
    r = run("compile", bad, "--check")
    assert r.returncode == 2
    assert "compile error" in r.stderr
    os.unlink(bad)


def test_cli_refuses_unloadable_rule_dirs(tmp_path):
    """A rule directory holding a non-html rule or malformed YAML is one
    E_* line and exit 2, never a traceback: under --list (no
    SparkSession) and under run; `compile --check` refuses the file the
    same way."""
    import sys

    script = os.path.join(REPO, "scripts", "run_pipeline.py")
    bad_rules = {
        "sheet.fp.yaml": "fingerprint_id: s.v1\nformat: xlsx\nassertions:\n"
                         "  - text_regex: {pattern: x}\n",
        "broken.fp.yaml": "fingerprint_id: [unclosed\n",
        "level.fp.yaml": "fingerprint_id: l.v1\nformat: html\nassertions:\n"
                         "  - heading_level: {level: x, pattern: A}\n",
    }
    for name, text in bad_rules.items():
        rules_dir = tmp_path / name.split(".")[0]
        rules_dir.mkdir()
        (rules_dir / name).write_text(text)
        for args in (["--list", "--rules-dir", str(rules_dir)],
                     ["--input", str(tmp_path / "none"),
                      "--output", str(tmp_path / "out"), "--no-witness",
                      "--rules-dir", str(rules_dir)],
                     ["compile", str(rules_dir / name), "--check"]):
            r = subprocess.run([sys.executable, script, *args],
                               capture_output=True, text=True, timeout=300)
            assert r.returncode == 2, (name, args, r.stderr[-1500:])
            assert "error: E_INVALID_YAML" in r.stderr, r.stderr[-1500:]
            assert "Traceback" not in r.stderr


def test_cli_run_refuses_uncompilable_regex(tmp_path):
    """run validates with the JVM up, so a heading pattern
    java.util.regex does not compile is one E_INVALID_YAML line and exit
    2 before any job, not a failed task."""
    import sys

    script = os.path.join(REPO, "scripts", "run_pipeline.py")
    (tmp_path / "r").mkdir()
    (tmp_path / "r" / "paren.fp.yaml").write_text(
        "fingerprint_id: p.v1\nformat: html\nassertions:\n"
        "  - heading_regex: {pattern: '('}\n"
    )
    r = subprocess.run(
        [sys.executable, script, "--input", str(tmp_path / "none"),
         "--output", str(tmp_path / "out"), "--no-witness",
         "--rules-dir", str(tmp_path / "r")],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 2, r.stderr[-1500:]
    assert "error: E_INVALID_YAML" in r.stderr and "does not compile" in r.stderr
    assert "Traceback" not in r.stderr


def test_cli_subcommands_refuse_unknown_flags(tmp_path):
    """A misspelt or removed flag exits 2 with the mode's usage line
    instead of being silently ignored, before a SparkSession starts."""
    import sys

    script = os.path.join(REPO, "scripts", "run_pipeline.py")
    corpus = str(tmp_path / "c.parquet")
    cases = (
        (["curate", corpus, "--output", str(tmp_path / "o"),
          "--classifer-threshold", "0.9"], "--classifer-threshold", "usage: curate"),
        (["infer", corpus, "--id", "x.v1", "--format", "html"],
         "--format", "usage: infer"),
        (["train-lm", corpus, "--output"], "--output", "usage: train-lm"),
    )
    for args, flag, usage in cases:
        r = subprocess.run([sys.executable, script, *args],
                           capture_output=True, text=True, timeout=120)
        assert r.returncode == 2, (args, r.stderr[-1500:])
        assert f"option {flag}" in r.stderr and usage in r.stderr, r.stderr
        assert "SparkContext" not in r.stderr


def test_cli_fp_selection_and_orphan_refusal(spark, tmp_path):
    """--fp selects rules in CLI order; a child requested without its
    parent refuses with E_ORPHAN_CHILD exit 2 (reference --fp semantics).
    Runs through plain python (same entry point) for speed."""
    import sys

    corpus = str(tmp_path / "corpus")
    write_corpus_partitioned(generate_corpus(spark, 40, partitions=2), corpus)
    script = os.path.join(REPO, "scripts", "run_pipeline.py")

    r = subprocess.run(
        [sys.executable, script, "--input", corpus,
         "--output", str(tmp_path / "o1"), "--buckets", "1",
         "--rules-dir", os.path.join(REPO, "rules"),
         "--fp", "soi-pack-alder.v1", "--no-witness"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 2
    assert "E_ORPHAN_CHILD" in r.stderr

    r2 = subprocess.run(
        [sys.executable, script, "--input", corpus,
         "--output", str(tmp_path / "o2"), "--buckets", "1",
         "--fp", "spam_pharma.v1", "--fp", "spam_cta.v1", "--no-witness"],
        capture_output=True, text=True, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-1500:]
    summary = json.loads(r2.stdout.strip().splitlines()[-1])
    assert summary["outcome"] == "OK"


def test_cli_revalidate_over_stored_parsed(spark, tmp_path):
    """--keep-parsed persists parsed structs; --revalidate applies a new
    rule set over them with no re-parse (north_star incremental
    re-validation through the deployment entry point)."""
    import sys

    corpus = str(tmp_path / "corpus")
    out1 = str(tmp_path / "out1")
    out2 = str(tmp_path / "out2")
    write_corpus_partitioned(generate_corpus(spark, 300, partitions=2), corpus)
    script = os.path.join(REPO, "scripts", "run_pipeline.py")

    r1 = subprocess.run(
        [sys.executable, script, "--input", corpus, "--output", out1,
         "--buckets", "1", "--keep-parsed", "--no-witness"],
        capture_output=True, text=True, timeout=400,
    )
    assert r1.returncode in (0, 1), r1.stderr[-1500:]

    # write new-version rules to a fresh dir
    rules_dir = str(tmp_path / "rules")
    os.makedirs(rules_dir)
    with open(os.path.join(rules_dir, "spamv2.fp.yaml"), "w") as f:
        f.write(
            "fingerprint_id: spam_any.v2\nformat: html\nassertions:\n"
            "  - text_regex:\n"
            "      pattern: \"(?i)(buy cheap|casino|replica watches|weight loss)\"\n"
        )
    r2 = subprocess.run(
        [sys.executable, script, "--input", os.path.join(out1, "bucket=*"),
         "--output", out2, "--buckets", "1", "--revalidate",
         "--rules-dir", rules_dir, "--fp", "spam_any.v2", "--no-witness"],
        capture_output=True, text=True, timeout=400,
    )
    assert r2.returncode in (0, 1), r2.stderr[-1500:]
    got = spark.read.parquet(os.path.join(out2, "bucket=*"))
    n_match = got.filter("fingerprint.matched").count()
    assert n_match > 0
    assert (
        got.filter("fingerprint.matched")
        .filter("fingerprint.fingerprint_id = 'spam_any.v2'")
        .count()
        == n_match
    )


def test_cli_run_and_revalidate_keep_extraction(spark, tmp_path):
    """run --rules-dir rules/ --fp maint-log.v1 writes the winner's
    extracted anchors and content_hash; --revalidate over the kept
    parsed structs writes the same hashes. The hash-pair fixtures: the
    markup variant hashes as the base, the value change does not."""
    import datetime
    import sys

    fix = os.path.join(REPO, "tests", "fixtures", "html")
    ids = ["hash_pair_base", "hash_pair_markup_variant", "hash_pair_value_change"]
    ts = datetime.datetime(2024, 1, 1)
    rows = []
    for fid in ids:
        with open(os.path.join(fix, f"{fid}.html"), "rb") as f:
            rows.append((fid, ts, bytearray(f.read()), "", "en"))
    corpus = str(tmp_path / "corpus")
    write_corpus_partitioned(spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ), corpus)
    script = os.path.join(REPO, "scripts", "run_pipeline.py")
    rule_args = ["--rules-dir", os.path.join(REPO, "rules"),
                 "--fp", "maint-log.v1", "--buckets", "1", "--no-witness"]

    def hashes(inp, out, *extra):
        r = subprocess.run(
            [sys.executable, script, "--input", inp, "--output", out,
             *rule_args, *extra],
            capture_output=True, text=True, timeout=400,
        )
        assert r.returncode == 0, r.stderr[-1500:]
        got = spark.read.parquet(os.path.join(out, "bucket=*")).collect()
        assert all(g["extracted"]["ratio"] for g in got)
        return {g["url"]: g["content_hash"] for g in got}

    out1 = str(tmp_path / "out1")
    run = hashes(corpus, out1, "--keep-parsed")
    assert run["hash_pair_base"].startswith("md5:")
    assert run["hash_pair_base"] == run["hash_pair_markup_variant"]
    assert run["hash_pair_base"] != run["hash_pair_value_change"]
    again = hashes(os.path.join(out1, "bucket=*"), str(tmp_path / "out2"),
                   "--revalidate")
    assert again == run


def test_cli_witness_surface(tmp_path):
    """witness query|last|count over the JSONL ledger with tool/outcome/
    since filters (reference witness subcommands) — no SparkSession."""
    import sys

    from fingerprint_spark.witness import append_witness

    ledger = str(tmp_path / "w.jsonl")
    append_witness("run_pipeline", {"input": "a"}, {}, "OK", path=ledger)
    append_witness("run_pipeline", {"input": "b"}, {}, "PARTIAL", path=ledger)
    append_witness("other_tool", {"input": "c"}, {}, "OK", path=ledger)

    script = os.path.join(REPO, "scripts", "run_pipeline.py")
    env = dict(os.environ, FINGERPRINT_SPARK_WITNESS=ledger)

    def run(*args):
        return subprocess.run(
            [sys.executable, script, "witness", *args],
            capture_output=True, text=True, timeout=60, env=env,
        )

    c = run("count")
    assert c.returncode == 0 and c.stdout.strip() == "3"
    c2 = run("count", "--tool", "run_pipeline")
    assert c2.stdout.strip() == "2"
    c3 = run("count", "--outcome", "PARTIAL")
    assert c3.stdout.strip() == "1"

    last = json.loads(run("last", "--tool", "other_tool", "--json").stdout)
    assert last["tool"] == "other_tool" and last["inputs"]["input"] == "c"

    q = run("query", "--tool", "run_pipeline")
    lines = [json.loads(l) for l in q.stdout.strip().splitlines()]
    assert [r["outcome"] for r in lines] == ["OK", "PARTIAL"]

    bad = run("bogus")
    assert bad.returncode == 2


def test_cli_infer_emits_parseable_yaml(spark, tmp_path):
    """`infer <corpus> --id X` mines candidate assertions and prints a
    deterministic, parseable + validated .fp.yaml (infer_subcommand.rs
    analog; same corpus => byte-identical output)."""
    import sys

    # homogeneous mini-corpus: same structure across docs
    rows = [
        (f"http://x/r{i}.html",
         bytearray(
             f"<html><body><h1>Weekly Report</h1><h2>Summary</h2>"
             f"<p>week {i} content line.</p></body></html>".encode()
         ))
        for i in range(12)
    ]
    corpus = str(tmp_path / "c")
    spark.createDataFrame(rows, "url string, html binary").write.parquet(corpus)
    script = os.path.join(REPO, "scripts", "run_pipeline.py")

    def run():
        return subprocess.run(
            [sys.executable, script, "infer", corpus, "--id", "weekly.v1",
             "--min-confidence", "0.8"],
            capture_output=True, text=True, timeout=300,
        )

    r1 = run()
    assert r1.returncode == 0, r1.stderr[-1500:]
    import yaml as _yaml

    from fingerprint_spark.dsl.parser import parse_yaml as _parse
    from fingerprint_spark.dsl.validate import validate_definition

    d = _parse(r1.stdout, source="inferred")
    validate_definition(d)
    assert d.fingerprint_id == "weekly.v1"
    assert len(d.assertions) >= 1
    r2 = run()
    assert r2.stdout == r1.stdout  # deterministic emission


def test_cli_refuses_bucketing_mismatch_cleanly(spark, tmp_path):
    """Resuming a checkpointed output under a different --buckets value
    exits 2 with a readable refusal, not a traceback."""
    import sys

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    write_corpus_partitioned(generate_corpus(spark, 40, partitions=2), corpus)
    script = os.path.join(REPO, "scripts", "run_pipeline.py")

    def run(buckets, *extra):
        return subprocess.run(
            [sys.executable, script, "--input", corpus, "--output", out,
             "--buckets", str(buckets), "--no-witness", *extra],
            capture_output=True, text=True, timeout=300,
        )

    assert run(2).returncode == 0
    r = run(4, "--resume")
    assert r.returncode == 2
    assert "refusing" in r.stderr and "n_buckets" in r.stderr
    assert "Traceback" not in r.stderr.split("refusing")[0][-200:]


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_cli_curate_subcommand(spark, tmp_path):
    """The corpus-curation pass as a spark-submit deployment surface:
    quality + chunk dedup + benchmark decontamination, verdict parquet
    plus one observe-backed JSON metrics line."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    corpus = str(tmp_path / "corpus.parquet")
    bench = str(tmp_path / "bench.parquet")
    out = str(tmp_path / "curated")
    body = ("the quick brown fox jumps over the lazy dog and that have "
            "been with us for a long while now in every test corpus "
            "that we have seen to date here") * 2
    rows = [
        Row(url=f"u{i}", text=(f"shared nav bar chunk always {body} tail{i}"))
        for i in range(40)
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(corpus)
    spark.createDataFrame(
        [Row(url="b0", text="every test corpus that we have seen to date")]
    ).write.mode("overwrite").parquet(bench)
    zip_path = build_pyfiles_zip(str(tmp_path / "pyfiles.zip"))

    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false", "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"), "curate",
         corpus, "--output", out, "--chunk-words", "5",
         "--benchmark", bench, "--decontam-n", "6"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["metric"] == "curate" and summary["docs"] == 40
    # the benchmark 6-grams appear in every doc body -> all contaminated
    assert summary["contaminated"] == 40
    # the shared leading chunks dedup away everywhere but doc of first
    # occurrence: strictly fewer kept than total
    assert summary["chunks_kept"] < summary["chunks_total"]

    got = spark.read.parquet(out)
    assert got.count() == 40
    cols = set(got.columns)
    assert {"url", "keep_quality", "n_chunks", "n_kept", "text_dedup",
            "contaminated", "final_keep"} <= cols
    # contamination forces final_keep = 0 corpus-wide here
    assert got.agg(F.sum("final_keep")).first()[0] == 0


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_cli_curate_sharded_output(spark, tmp_path):
    from pyspark.sql import Row

    from helpers import verify_shards

    corpus = str(tmp_path / "corpus.parquet")
    out = str(tmp_path / "curated_shards")
    spark.createDataFrame(
        [Row(url=f"u{i}", text=f"clean words only here today tail{i} pad")
         for i in range(30)]
    ).write.mode("overwrite").parquet(corpus)
    zip_path = build_pyfiles_zip(str(tmp_path / "pyfiles.zip"))
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false", "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"), "curate",
         corpus, "--output", out, "--chunk-words", "5", "--shards", "4"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["sharded"] and summary["docs"] == 30
    assert verify_shards(spark, out)["ok"]


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_cli_curate_max_docs_boilerplate_mode(spark, tmp_path):
    """--max-docs switches the dedup stage to RefinedWeb remove-
    everywhere semantics: the shared leading chunk vanishes from ALL
    documents, including the first."""
    from pyspark.sql import Row

    corpus = str(tmp_path / "corpus.parquet")
    out = str(tmp_path / "curated_bp")
    spark.createDataFrame(
        [Row(url=f"u{i}", text=f"nav bar chunk here five tail{i} a b c d")
         for i in range(8)]
    ).write.mode("overwrite").parquet(corpus)
    zip_path = build_pyfiles_zip(str(tmp_path / "pyfiles.zip"))
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false", "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"), "curate",
         corpus, "--output", out, "--chunk-words", "5", "--max-docs", "2"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = spark.read.parquet(out)
    rows = {x["url"]: x for x in got.collect()}
    # chunk 1 ("nav bar chunk here five") is in all 8 docs (> 2):
    # removed everywhere; chunk 2 ("tailN a b c d") is unique: kept
    assert all(r["n_kept"] == 1 for r in rows.values())
    assert all(r["text_dedup"].startswith("tail") for r in rows.values())


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_curate_cli_justext_and_classifier_stages(spark, tmp_path):
    """VERDICT r4 #5: the JusText boilerplate strip and the trained
    quality classifier as opt-in curate stages on the deployed
    spark-submit surface — with verdict parity against the standalone
    operators and their counters in the metrics line."""
    import sys

    from pyspark.sql import functions as F

    from fingerprint_spark.operators.boilerplate_dom import (
        strip_boilerplate,
    )
    from fingerprint_spark.operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
        quality_score_arrow,
        train_quality_logreg,
    )

    good = ("the committee reviewed the detailed evidence and published "
            "a careful report with three clear recommendations for the "
            "city and its residents")
    spam = ("buy cheap pills now discount discount click here click "
            "here limited offer act now casino bonus")
    rows = []
    for i in range(24):
        content = good if i % 2 == 0 else spam
        html = (
            "<html><body><div><a href='/'>home</a> <a>about</a> "
            "<a>contact</a> <a>login</a></div>"
            f"<p>{content} item {i}</p>"
            "<div><a>privacy</a> <a>terms</a> <a>sitemap</a></div>"
            "</body></html>"
        )
        rows.append((f"https://h/{i}", html, "RAW-TEXT-MUST-BE-REPLACED"))
    docs = spark.createDataFrame(rows, "url string, html string, text string")
    corpus = str(tmp_path / "corpus.parquet")
    docs.write.parquet(corpus)

    model = train_quality_logreg(
        spark.createDataFrame(QUALITY_TRAIN_FIXTURE, "text string, label int"),
        dim=1024, epochs=8, lr=2.0,
    )
    model_path = str(tmp_path / "model.json")
    with open(model_path, "w") as f:
        json.dump({**model, "hasher": "xxhash"}, f)

    out = str(tmp_path / "out")
    zip_path = build_pyfiles_zip(str(tmp_path / "pyfiles.zip"))
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"),
         "curate", corpus, "--output", out,
         "--chunk-words", "5",
         "--justext", "--classifier", model_path,
         "--classifier-threshold", "0.5"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rec = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert rec["docs"] == 24
    assert rec["justext_blocks_good"] + rec["justext_blocks_bad"] > 0
    assert 0 < rec["classifier_keep"] < 24

    got = {r2["url"]: r2 for r2 in spark.read.parquet(out).collect()}
    assert len(got) == 24

    # verdict parity with the STANDALONE operators: same stripped text,
    # same probability, and final_keep is exactly the AND of the gates
    bp = strip_boilerplate(docs, "html", "url")
    scored = {
        r2["url"]: r2["quality_prob"]
        for r2 in quality_score_arrow(
            bp.select("url", F.col("main_text").alias("text")), model
        ).collect()
    }
    for url, row in got.items():
        assert row["quality_prob"] == scored[url], url
        expect_keep = int(
            row["keep_quality"] == 1
            and row["contaminated"] == 0
            and row["n_kept"] > 0
            and row["quality_prob"] >= 0.5
        )
        assert row["final_keep"] == expect_keep, url
    # the classifier actually separates the two content kinds through
    # the full CLI chain
    assert all(
        got[f"https://h/{i}"]["quality_prob"] > 0.5 for i in range(0, 24, 2)
    )
    assert all(
        got[f"https://h/{i}"]["quality_prob"] < 0.5 for i in range(1, 24, 2)
    )


def test_train_classifier_cli_closes_the_loop(spark, tmp_path, capsys):
    """`train-classifier labeled.parquet --output model.json` then
    `curate --classifier model.json`: the deployed train->score loop
    with no library code in between (in-process; the spark-submit
    machinery is proven by the sibling tests)."""
    import importlib.util
    import sys

    from fingerprint_spark.operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
    )

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_mod_train",
        os.path.join(REPO, "scripts", "run_pipeline.py"),
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    labeled = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        QUALITY_TRAIN_FIXTURE, "text string, label int"
    ).write.parquet(labeled)
    model_path = str(tmp_path / "model.json")
    rc = rp.main(
        ["train-classifier", labeled, "--output", model_path,
         "--dim", "1024", "--epochs", "8"])
    assert rc == 0
    line = [ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")][-1]
    rec = json.loads(line)
    assert rec["train_accuracy"] >= 0.95 and rec["n_labeled"] == len(
        QUALITY_TRAIN_FIXTURE)
    with open(model_path) as f:
        model = json.load(f)
    assert model["dim"] == 1024 and model["hasher"] == "xxhash"

    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(f"https://h/{i}", t) for i, (t, _y) in
         enumerate(QUALITY_TRAIN_FIXTURE)],
        "url string, text string",
    ).write.parquet(corpus)
    out = str(tmp_path / "out")
    rc2 = rp.main(
        ["curate", corpus, "--output", out, "--chunk-words", "5",
         "--classifier", model_path])
    assert rc2 == 0
    rec2 = json.loads(
        [ln for ln in capsys.readouterr().out.splitlines()
         if ln.startswith("{")][-1])
    n_pos = sum(1 for _t, y in QUALITY_TRAIN_FIXTURE if y == 1)
    assert rec2["classifier_keep"] == n_pos

    # bad inputs: clean errors, not tracebacks
    assert rp.main(["train-classifier"]) == 2
    assert rp.main(
        ["train-classifier", labeled, "--output", model_path,
         "--text-col", "nope"]) == 2
    # a malformed or out-of-range model file: one error line and exit
    # 2, never a traceback or a run on silently corrupted weights
    bad_models = {
        "neg_index": {**model, "weights": {"-1": 1.0}},
        "index_ge_dim": {**model, "weights": {"1024": 1.0}},
        "no_dim": {k: v for k, v in model.items() if k != "dim"},
        "bad_hasher": {**model, "hasher": "sha1"},
        "not_object": [1, 2],
    }
    for name, bad in bad_models.items():
        bad_path = str(tmp_path / f"{name}.json")
        with open(bad_path, "w") as f:
            json.dump(bad, f)
        capsys.readouterr()
        assert rp.main(
            ["curate", corpus, "--output", str(tmp_path / f"o_{name}"),
             "--classifier", bad_path]) == 2, name
        err = capsys.readouterr().err.strip().splitlines()
        assert len(err) == 1 and err[0].startswith(
            "error: --classifier:"), (name, err)


def test_frontier_cli_build_merge_probe_cycle(spark, tmp_path, capsys,
                                              monkeypatch):
    """`frontier` subcommand: the incremental crawl cycle as a
    deployment surface — build filter(1) from a corpus snapshot, merge
    a delta into filter(2) (cost scales with the delta), probe an
    incoming crawl against the CURRENT filter and emit only the
    definitely-new urls (zero false negatives), with witness rows
    naming the filter snapshots consumed."""
    import importlib.util

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_mod_frontier",
        os.path.join(REPO, "scripts", "run_pipeline.py"),
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    ledger = str(tmp_path / "witness.jsonl")
    monkeypatch.setenv("FINGERPRINT_SPARK_WITNESS", ledger)

    def urls(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("https://h/"), F.col("id")).alias("url"))

    corpus = str(tmp_path / "corpus.parquet")
    urls(0, 3000).write.parquet(corpus)
    delta = str(tmp_path / "delta.parquet")
    urls(3000, 3500).write.parquet(delta)
    incoming = str(tmp_path / "incoming.parquet")
    urls(2500, 4500).write.parquet(incoming)   # 1000 seen + 1000 new

    tbl = str(tmp_path / "frontier_filter")

    def last_json():
        return json.loads(
            [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")][-1])

    # non-default build params: merge/probe must pick them up from the
    # filter's own marker row, not require the caller to re-type them
    assert rp.main(
        ["frontier", tbl, "--build", corpus, "--n-bits", "2097152"]) == 0
    rec = last_json()
    assert rec["snapshot_id"] == 1 and rec["filter_rows"] > 0
    assert rec["n_bits"] == 2097152

    assert rp.main(
        ["frontier", tbl, "--merge", delta]) == 0
    rec = last_json()
    assert (rec["parent_snapshot_id"], rec["snapshot_id"]) == (1, 2)

    out = str(tmp_path / "new_urls")
    assert rp.main(
        ["frontier", tbl, "--probe", incoming, "--output", out]) == 0
    rec = last_json()
    assert rec["incoming"] == 2000 and rec["snapshot_id"] == 2
    got = {r["url"] for r in spark.read.parquet(out).collect()}
    # zero false negatives: nothing below 3500 survives the probe
    assert not any(int(u.rsplit("/", 1)[1]) < 3500 for u in got)
    assert len(got) >= 995 and rec["new"] == len(got)
    with open(ledger) as f:
        tools = [json.loads(ln)["tool"] for ln in f if ln.strip()]
    assert "frontier-merge" in tools and "frontier-probe" in tools

    # empty incoming crawl: counters stay integers, no crash
    empty = str(tmp_path / "empty.parquet")
    spark.createDataFrame([], "url string").write.parquet(empty)
    out2 = str(tmp_path / "new2")
    assert rp.main(
        ["frontier", tbl, "--probe", empty, "--output", out2]) == 0
    rec = last_json()
    assert (rec["incoming"], rec["maybe_seen"], rec["new"]) == (0, 0, 0)

    # usage + missing-filter + missing-column errors are clean
    assert rp.main(["frontier", tbl]) == 2
    assert rp.main(
        ["frontier", str(tmp_path / "nope"), "--merge", delta]) == 2
    assert rp.main(
        ["frontier", tbl, "--probe", incoming, "--output", out2,
         "--key-col", "missing"]) == 2


def test_train_lm_cli_and_ppl_gate(spark, tmp_path, capsys):
    """`train-lm` (distributed n-gram counting) -> `curate --ppl-model`
    perplexity gate: in-domain docs keep, out-of-domain gibberish
    drops with drop_reason 'perplexity' and a ppl_dropped counter."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_mod_lm",
        os.path.join(REPO, "scripts", "run_pipeline.py"),
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    clean = [
        "the committee published its careful findings after a "
        "detailed review of all available evidence and data",
        "researchers at the university demonstrated that the new "
        "method improves accuracy in the study considerably",
        "students who practice retrieval while studying retain more "
        "of the material than those who merely reread it",
        "a balanced diet and regular exercise remain the most "
        "reliable foundation for long term health and strength",
    ] * 8
    train = str(tmp_path / "clean.parquet")
    spark.createDataFrame([(t,) for t in clean], "text string")\
        .write.parquet(train)
    lm = str(tmp_path / "lm.json")
    assert rp.main(
        ["train-lm", train, "--output", lm, "--order", "3"]) == 0
    rec = json.loads(
        [ln for ln in capsys.readouterr().out.splitlines()
         if ln.startswith("{")][-1])
    assert rec["n_grams"] > 100

    # distributed trainer == driver trainer, exactly (scale path parity)
    from fingerprint_spark.functions.perplexity import (
        model_from_json, train_char_ngram,
    )

    with open(lm) as f:
        m_cli = model_from_json(f.read())
    assert m_cli == train_char_ngram(clean, order=3)

    # in-domain docs: >= 50 words (the Gopher word-count gate) built
    # from training vocabulary; out-of-domain: pseudo-English that
    # PASSES langid (the ppl gate sits after it in the reason chain)
    # but has char trigrams the model never saw
    indoc = " ".join(clean[:4])
    gib = ("thon quome wrend ploth brimbled the gorvan mestled pracht "
           "onders whion stradle ") * 6
    docs = [(f"https://h/{i}", indoc) for i in range(10)]
    docs += [(f"https://h/x{i}", gib) for i in range(10)]
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(docs, "url string, text string")\
        .write.parquet(corpus)
    out = str(tmp_path / "out")
    # threshold between the measured in-domain (~7) and pseudo-English
    # (~27) per-char perplexities
    assert rp.main(
        ["curate", corpus, "--output", out, "--chunk-words", "5",
         "--ppl-model", lm, "--ppl-threshold", "15"]) == 0
    rec2 = json.loads(
        [ln for ln in capsys.readouterr().out.splitlines()
         if ln.startswith("{")][-1])
    assert rec2["ppl_dropped"] == 10
    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert all(got[f"https://h/x{i}"]["drop_reason"] == "perplexity"
               for i in range(10))
    assert all(got[f"https://h/{i}"]["keep_quality"] == 1
               for i in range(10))
    # bad model path -> clean error
    assert rp.main(
        ["curate", corpus, "--output", out,
         "--ppl-model", str(tmp_path / "nope.json")]) == 2


def test_train_langid_cli_and_curate_stage(spark, tmp_path, capsys):
    """`train-langid` (DataFrame-native softmax GD) -> `curate
    --langid-model`: the trained fastText-shaped scorer replaces the
    marker-word tier through the full CLI chain — non-English docs
    drop with drop_reason 'langid:<lang>' and a langid_dropped
    counter; English docs keep."""
    import importlib.util

    from fingerprint_spark.operators.langid_classifier import (
        LANGID_TRAIN_FIXTURE,
        langid_model_from_json,
    )

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_mod_langid",
        os.path.join(REPO, "scripts", "run_pipeline.py"),
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    labeled = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        LANGID_TRAIN_FIXTURE, "text string, lang string"
    ).write.parquet(labeled)
    model_path = str(tmp_path / "lid.json")
    rc = rp.main(
        ["train-langid", labeled, "--output", model_path,
         "--dim", "1024", "--epochs", "8"])
    assert rc == 0
    rec = json.loads(
        [ln for ln in capsys.readouterr().out.splitlines()
         if ln.startswith("{")][-1])
    assert rec["train_accuracy"] >= 0.95
    assert rec["n_labeled"] == len(LANGID_TRAIN_FIXTURE)
    assert rec["classes"] == ["de", "en", "es", "fr"]
    with open(model_path) as f:
        model = langid_model_from_json(f.read())  # file round-trips
    assert model["dim"] == 1024 and model["hasher"] == "xxhash"

    # corpus: en docs long enough to pass the Gopher word-count gate
    # (the langid stage sits FIRST in the reason chain; en docs must
    # survive the rest of the chain to prove keep, not just non-drop)
    by_lang = {}
    for t, lg in LANGID_TRAIN_FIXTURE:
        by_lang.setdefault(lg, []).append(t)
    en_doc = " ".join(by_lang["en"][:4])
    docs = [(f"https://h/en{i}", en_doc) for i in range(6)]
    for lg in ("de", "fr", "es"):
        docs += [(f"https://h/{lg}{i}", " ".join(by_lang[lg][:4]))
                 for i in range(2)]
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(docs, "url string, text string")\
        .write.parquet(corpus)
    out = str(tmp_path / "out")
    assert rp.main(
        ["curate", corpus, "--output", out, "--chunk-words", "5",
         "--langid-model", model_path]) == 0
    rec2 = json.loads(
        [ln for ln in capsys.readouterr().out.splitlines()
         if ln.startswith("{")][-1])
    assert rec2["langid_dropped"] == 6
    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert all(got[f"https://h/en{i}"]["keep_quality"] == 1
               for i in range(6))
    for lg in ("de", "fr", "es"):
        for i in range(2):
            assert got[f"https://h/{lg}{i}"]["drop_reason"] == f"langid:{lg}"

    # bad inputs: clean errors, not tracebacks
    assert rp.main(["train-langid"]) == 2
    assert rp.main(
        ["train-langid", labeled, "--output", model_path,
         "--label-col", "nope"]) == 2
    assert rp.main(
        ["train-langid", str(tmp_path / "missing.parquet"),
         "--output", model_path]) == 2
    assert rp.main(
        ["curate", corpus, "--output", out,
         "--langid-model", str(tmp_path / "nope.json")]) == 2
    (tmp_path / "bad.json").write_text('{"classes": ["en"]}')
    assert rp.main(
        ["curate", corpus, "--output", out,
         "--langid-model", str(tmp_path / "bad.json")]) == 2


def test_spark_submit_langid_model_stage(spark, tmp_path):
    """The trained langid tier in the FLAGSHIP chain: spark-submit
    --langid-model swaps the marker scorer for the trained softmax in
    the run mode (not just curate); per-url verdict parity with an
    in-process quality_filter run using the same model file."""
    from fingerprint_spark.operators.langid_classifier import (
        LANGID_TRAIN_FIXTURE,
        langid_model_to_json,
        train_langid_softmax_py,
    )
    from fingerprint_spark.pipeline import quality_filter

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    write_corpus_partitioned(generate_corpus(spark, 60, partitions=2), corpus)
    zip_path = build_pyfiles_zip(str(tmp_path / "pyfiles.zip"))
    model = train_langid_softmax_py(LANGID_TRAIN_FIXTURE, dim=512, epochs=4)
    model_path = str(tmp_path / "lid.json")
    with open(model_path, "w") as f:
        f.write(langid_model_to_json(model))

    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"),
         "--input", corpus, "--output", out, "--buckets", "2",
         "--langid-model", model_path],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["outcome"] == "OK"
    assert summary["metrics"]["docs_scanned"] == 60

    got = {
        row["url"]: (row["lang_detected"], round(row["lang_score"], 9),
                     row["drop_reason"])
        for row in spark.read.parquet(out + "/bucket=*")
        .select("url", "lang_detected", "lang_score", "drop_reason")
        .collect()
    }
    ref_df = spark.read.parquet(corpus)
    want = {
        row["url"]: (row["lang_detected"], round(row["lang_score"], 9),
                     row["drop_reason"])
        for row in quality_filter(ref_df, langid_model=model)
        .select("url", "lang_detected", "lang_score", "drop_reason")
        .collect()
    }
    assert got == want
    # the trained scorer ACTUALLY drove the output (a main() that
    # silently dropped --langid-model would still pass a
    # marker-vs-marker parity check): softmax probabilities are
    # numerically distinct from marker-token fractions on every doc
    marker = {
        row["url"]: round(row["lang_score"], 9)
        for row in quality_filter(ref_df)
        .select("url", "lang_score").collect()
    }
    n_diff = sum(
        1 for url, (_l, score, _r) in got.items() if score != marker[url]
    )
    assert n_diff > len(got) * 0.9, (
        f"only {n_diff}/{len(got)} scores differ from the marker tier "
        "— did the CLI drop --langid-model?"
    )

    # the model digest is folded into the checkpoint params hash: a
    # resume WITHOUT the model earns zero resume credit (all buckets
    # recompute under the marker hash) — never a mixed-verdict output
    r2 = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"),
         "--input", corpus, "--output", out, "--buckets", "2",
         "--resume"],
        capture_output=True, text=True, timeout=420,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["processed_buckets"] == [0, 1]
    assert s2["skipped_buckets"] == []
    # ...and the recomputed output is now uniformly marker-scored
    after = {
        row["url"]: round(row["lang_score"], 9)
        for row in spark.read.parquet(out + "/bucket=*")
        .select("url", "lang_score").collect()
    }
    assert after == marker

    # --langid-model with --revalidate: refused (the revalidate pass
    # has no language stage; silently ignoring the flag would mislead)
    r3 = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "run_pipeline.py"),
         "--input", corpus, "--output", str(tmp_path / "o3"),
         "--buckets", "2", "--revalidate", "--langid-model", model_path],
        capture_output=True, text=True, timeout=420,
    )
    assert r3.returncode == 2
    # spark-submit merges the python driver's stderr into stdout —
    # check both (the committed-buckets refusal test's pattern)
    assert "no effect with --revalidate" in (r3.stderr + r3.stdout)
