"""Connected-components dedup: exact transitive closure over candidate
pairs (large-star/small-star), vs the one-pass min-key approximation."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.operators.components import connected_components


def _cc(spark, edges):
    pairs = spark.createDataFrame(edges, ["key_a", "key_b"])
    rows = connected_components(pairs).collect()
    comp = {}
    for r in rows:
        comp[r["node"]] = min(comp.get(r["node"], r["component"]), r["component"])
        comp.setdefault(r["component"], r["component"])
    return comp


def test_chain_collapses_to_one_component(spark):
    """A duplicate CHAIN a~b~c~d~e (no direct a~e pair) is ONE component
    rooted at the minimum — the case the one-pass key_b policy gets
    direction-dependent."""
    comp = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert {comp[n] for n in (1, 2, 3, 4, 5)} == {1}


def test_multiple_components_and_determinism(spark):
    edges = [(10, 11), (11, 12), (20, 21), (30, 31), (31, 32), (32, 30)]
    comp1 = _cc(spark, edges)
    comp2 = _cc(spark, list(reversed(edges)))
    assert comp1 == comp2
    assert comp1[12] == 10 and comp1[21] == 20 and comp1[32] == 30


def test_long_path_converges_within_logarithmic_rounds(spark):
    """A 64-node path (worst diameter shape) still converges: star
    contraction is O(log^2 n) rounds, not O(diameter)."""
    comp = _cc(spark, [(i, i + 1) for i in range(64)])
    assert {comp[n] for n in range(65)} == {0}


def test_dedup_connected_keeps_component_minimum(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(8)], ["url", "text"]
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (2, 6)], ["key_a", "key_b"]
    )
    cc = connected_components(pairs)
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("url")
    )
    kept = {r["url"] for r in docs.join(losers, "url", "left_anti").collect()}
    # component {0,3,5} -> keep 0; {2,6} -> keep 2; singletons survive
    assert kept == {0, 1, 2, 4, 7}


def test_string_keys(spark):
    comp = _cc(spark, [("b", "c"), ("a", "b")])
    assert comp["c"] == "a" and comp["b"] == "a"


def test_pagerank_two_node_cycle_and_dangling(spark):
    """Hand-checkable: a<->b cycle is symmetric (equal scores); dangling
    node c (no out-edges, one in-edge from a) drains mass but still
    receives its share."""
    from pyspark.sql import Row

    from fingerprint_spark.operators.components import pagerank

    nodes = spark.createDataFrame(
        [Row(doc_id=0), Row(doc_id=1), Row(doc_id=2)]
    )
    edges = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=0, dst=2), Row(src=1, dst=0)]
    )
    got = {r["doc_id"]: r["score"]
           for r in pagerank(nodes, edges, iterations=20).collect()}
    # b and c each receive a/2 (equal inflow -> equal scores); a gets
    # ALL of b's mass and sits strictly above both
    assert got[0] > got[1] > 0
    assert abs(got[1] - got[2]) < 1e-15
    # fixed-point check: recompute one more step by hand from got
    import math
    base = 0.15 / 3
    nxt0 = base + 0.85 * got[1]                 # b's single out-edge
    nxt1 = base + 0.85 * (got[0] / 2)
    nxt2 = base + 0.85 * (got[0] / 2)
    assert math.isclose(nxt0, got[0], rel_tol=1e-3)
    assert math.isclose(nxt1, got[1], rel_tol=1e-3)
    assert math.isclose(nxt2, got[2], rel_tol=1e-3)


def test_pagerank_partitioning_invariant(spark):
    from pyspark.sql import Row

    from fingerprint_spark.operators.components import pagerank

    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(40)])
    edges = spark.createDataFrame(
        [Row(src=i, dst=(i * 7 + 3) % 40) for i in range(40)]
        + [Row(src=i, dst=(i * 13 + 1) % 40) for i in range(40)]
    )
    a = {r["doc_id"]: r["score"]
         for r in pagerank(nodes.repartition(1), edges.repartition(1),
                           iterations=8).collect()}
    b = {r["doc_id"]: r["score"]
         for r in pagerank(nodes.repartition(16), edges.repartition(16, "dst"),
                           iterations=8).collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12
