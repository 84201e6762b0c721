"""Connected components over candidate-pair graphs — exact dup GROUPS.

A one-pass min-key policy (drop every key_b of a near-dup pair) is the
standard web-dedup approximation; it under-drops on duplicate CHAINS
(a~b, b~c where a!~c directly: c's pair points at b, which is itself
dropped, so the survivor set depends on pair direction).
``connected_components`` computes the exact transitive closure so every
near-dup cluster keeps exactly its minimum key.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — public):

- large-star: for each node u with neighborhood N(u), connect every
  strictly-larger neighbor to m = min(N(u) + {u});
- small-star: orient edges to (larger, smaller); connect every neighbor
  (all <= u) and u itself to m = min(N(u) + {u}).

Both steps preserve connectivity and monotonically lower labels;
convergence is O(log^2 n) rounds (in practice a handful for dup
clusters). Each round is one groupBy + one explode — shuffles O(E)
compact (long,long) pairs, never payloads. Every round ends in
``localCheckpoint`` to truncate the iterative lineage (an unbounded
loop of joins otherwise grows the plan superlinearly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (both orientations) or small-star (oriented
    larger->smaller) round. edges: (u, v) columns, u != v."""
    if large:
        nbrs = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    else:
        nbrs = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
    grouped = nbrs.groupBy("u").agg(F.collect_set("v").alias("ns"))
    m = F.array_min(F.array_union(F.col("ns"), F.array(F.col("u"))))
    if large:
        out = grouped.select(
            F.explode(F.filter("ns", lambda v: v > F.col("u"))).alias("u"),
            m.alias("v"),
        )
    else:
        out = grouped.select(
            F.explode(
                F.array_union(F.col("ns"), F.array(F.col("u")))
            ).alias("u"),
            m.alias("v"),
        )
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, component) over the (key_a, key_b) edges of ``pairs`` —
    component = min key of the node's component, after at most 25
    large/small-star rounds. Nodes appearing only as singletons in
    ``pairs`` are not emitted (callers left-join and coalesce to self).

    Keys must be orderable (long/string). Deterministic: labels only
    ever decrease toward the component minimum."""
    edges = (
        pairs.select(F.col("key_a").alias("u"), F.col("key_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(25):
        after_large = _star_round(edges, large=True)
        after_small = _star_round(after_large, large=False).localCheckpoint()
        # converged when the oriented edge sets match
        o_new = after_small.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        o_old = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        changed = (
            o_new.exceptAll(o_old).limit(1).count()
            + o_old.exceptAll(o_new.distinct()).limit(1).count()
        )
        edges = after_small
        if changed == 0:
            break
    # at convergence every edge points node -> component minimum
    return edges.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).distinct()


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    key_col: str = "doc_id",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank: (key, score) after a FIXED number of
    iterations (fixed-count, not convergence-tested, so two engines can
    agree bit-for-bit-ish and the oracle can unroll the same count).

    The 100 TB iterative shape: edges are hash-partitioned on the
    source key ONCE and persisted, so every iteration's join reuses the
    same partitioning (one shuffle per iteration for the groupBy, none
    for the edge scan); ranks are localCheckpoint'd every 3 rounds —
    without lineage truncation the plan
    doubles per iteration and the driver OOMs planning long chains
    (same pattern as the large/small-star loop above).

    Dangling nodes (no out-edges) are supported: their outdegree join
    is empty so they contribute nothing (the standard simplification;
    redistribute-dangling-mass variants change only the per-iteration
    constant).
    """
    n = nodes.count()
    key = F.col(key_col)
    if n == 0:  # empty graph: schema-stable empty result, not a 1/0
        return nodes.select(key, F.lit(0.0).alias("score"))
    out_deg = edges.groupBy(F.col("src").alias("__u")).agg(
        F.count("*").alias("__deg")
    )
    from ..caching import track_persist

    e = track_persist(
        edges.join(out_deg, edges["src"] == F.col("__u"))
        .select("src", "dst", "__deg")
        .repartition("src")
    )
    base = F.lit((1.0 - damping) / n)
    ranks = nodes.select(key.alias("__node")).withColumn(
        "score", F.lit(1.0 / n)
    )
    for i in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["__node"])
            .select("dst", (F.col("score") / F.col("__deg")).alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.select(key.alias("__node"))
            .join(contribs, F.col("__node") == contribs["dst"], "left")
            .select(
                "__node",
                (base + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0))
                 ).alias("score"),
            )
        )
        if (i + 1) % 3 == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    # e stays pinned through the caller's action (track_persist —
    # released via caching.release_tracked AFTER materialization; an
    # unpersist here would fire before the lazy plan ever runs)
    return ranks.select(F.col("__node").alias(key_col), "score")
