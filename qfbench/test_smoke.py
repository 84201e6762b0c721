"""Smoke test of the benchmark at tiny scale.

    python3 -m pytest qfbench/test_smoke.py -q

Runs every workload in both modes on 200 docs, asserts that every metric
of BENCHMARK.json is printed with its unit, and that corrupted outputs
fail their checks. Takes a few minutes (one Spark session per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from inputs import curate_reference, doc_offset  # noqa: E402
from workloads import CURATE_COLS, check_curate, check_filter  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _labels(n: int = 200, seed: int = 0) -> dict[str, dict]:
    from fingerprint_spark.corpus import gen_doc

    docs = [gen_doc(doc_offset(seed) + i) for i in range(n)]
    return {
        d["url"]: {
            "expected_keep": d["expected_keep"], "page_class": d["page_class"],
            "text": d["text"], "bench": i % 53 == 7,
        }
        for i, d in enumerate(docs)
    }


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("qfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )


def test_filter_check_rejects_corrupted_output():
    labels = _labels()
    rows = [(u, lab["expected_keep"], lab["text"]) for u, lab in labels.items()]
    good = check_filter(rows, labels)
    assert not good.problems and good.keep_f1 == 1.0
    assert good.text_exact_frac == 1.0

    bad_text = list(rows)
    bad_text[3] = (rows[3][0], rows[3][1], rows[3][2] + " ")
    assert check_filter(bad_text, labels).problems

    assert check_filter(rows + rows[:1], labels).problems  # duplicate url
    assert check_filter(rows[1:], labels).problems  # missing url

    flipped = [(u, not k, t) for u, k, t in rows]
    c = check_filter(flipped, labels)
    assert c.keep_f1 == 0.0 and c.notes


def test_curate_check_rejects_corrupted_output():
    ref = curate_reference(_labels())
    rows = [(u, *(r[c] for c in CURATE_COLS[1:])) for u, r in ref.items()]
    good = check_curate(rows, ref)
    assert not good.problems and good.keep_f1 == 1.0
    assert good.text_exact_frac == 1.0

    i = CURATE_COLS.index("text_dedup")
    bad = [r[:i] + (r[i] + "x",) + r[i + 1:] if k == 0 else r
           for k, r in enumerate(rows)]
    assert check_curate(bad, ref).problems

    j = CURATE_COLS.index("contaminated")
    flipped = [r[:j] + (1 - r[j],) + r[j + 1:] for r in rows]
    assert check_curate(flipped, ref).problems


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_prints_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "0", "--seconds", "1",
             "--trace", trace, "--docs", "200")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    declared = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "qfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "qfbench/run.py", "--workload", "filter_html",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
