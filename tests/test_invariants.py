"""Repo-wide plan + structure invariants — the lint-as-test analog of
the reference's ast-grep golden rules (rules/exit-code-range.yml,
tests/golden_rules.rs run via sgconfig.yml): structural properties of
the ENGINE ITSELF, enforced by the suite so a regression anywhere in
the repo fails a test instead of surfacing as a 100x scale cliff.

1. No driver query plans a Window with an EMPTY partition spec — the
   single-task global-sort anti-pattern that round 1 and round 2 each
   found (re-)introduced by hand. Checked on the OPTIMIZED plan, so a
   partition spec that Catalyst constant-folds away (e.g. lit(1)) is
   caught too.
2. No driver query plans row-at-a-time Python (BatchEvalPython); the
   Arrow-batched node count stays within each query's known shape
   (1 pandas stage; 2 only where one UDF feeds another and fusion is
   impossible).
3. No unbounded .collect()/.toPandas() in operator source — every
   driver materialization must be limit()-bounded or explicitly marked
   `# driver-bounded` with the bound in a comment.
4. No per-row F.udf() anywhere in the package (pandas_udf only).
"""

import json
import os
import re

import pytest

from fingerprint_spark.entry_queries import all_queries

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "fingerprint_spark")

# chained pandas UDFs that cannot fuse (stage N's output is stage N+1's
# input): fixture-builder -> decoder
ARROW_ALLOWANCE = {"media_roundtrip": 2}


def _optimized_nodes(df):
    return json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())


def _global_windows(df) -> int:
    return sum(
        1
        for nd in _optimized_nodes(df)
        if nd["class"].endswith(".Window") and nd.get("partitionSpec") == []
    )


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_plan_invariants(spark, name):
    df = all_queries()[name](spark, SF)
    assert _global_windows(df) == 0, (
        f"{name}: Window with empty partition spec — the whole input "
        "serializes through ONE task; use operators/topk.ranked_topk"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchEvalPython") == 0, (
        f"{name}: row-at-a-time Python UDF in the plan — use pandas_udf"
    )
    allowed = ARROW_ALLOWANCE.get(name, 1)
    n = plan.count("ArrowEvalPython")
    assert n <= allowed, (
        f"{name}: {n} ArrowEvalPython stages (allowed {allowed}) — "
        "each is a JVM<->Python Arrow round-trip; fuse them"
    )


_COLLECT_RE = re.compile(r"\.(collect|toPandas)\(\)")


def test_no_unbounded_collect_in_operators():
    """Every .collect()/.toPandas() in operator source must be bounded:
    a .limit( in the same statement (previous 6 lines) or an explicit
    `# driver-bounded` marker. .first() is inherently bounded."""
    bad = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                lines = f.readlines()
            for i, line in enumerate(lines):
                if not _COLLECT_RE.search(line):
                    continue
                ctx = "".join(lines[max(0, i - 6) : i + 1])
                if ".limit(" in ctx or "driver-bounded" in ctx:
                    continue
                bad.append(f"{path}:{i + 1}: {line.strip()}")
    assert not bad, "unbounded driver materialization:\n" + "\n".join(bad)


def test_no_per_row_python_udf_in_source():
    """F.udf( / @udf — the row-at-a-time Python path — must not appear;
    Arrow-batched pandas_udf is the only sanctioned Python escape."""
    bad = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if re.search(r"\bF\.udf\(|^\s*@udf\b", line):
                        bad.append(f"{path}:{i}: {line.strip()}")
    assert not bad, "row-at-a-time UDFs:\n" + "\n".join(bad)
