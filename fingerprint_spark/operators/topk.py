"""Scale-safe global top-k with dense ranks.

The anti-pattern this module exists to kill: a row_number() window with
an EMPTY partition spec serializes the ENTIRE scored input through one
task — at 10^12 rows that single task is the job. ``ranked_topk``
instead plans ``orderBy().limit(k)`` (TakeOrderedAndProject: a
per-partition bounded heap + driver merge, O(k) memory per task) and
only THEN ranks, so the window runs over exactly k rows.

The rank window still needs a non-EMPTY partition spec or Spark logs
``WindowExec: No Partition Defined`` and single-partitions the exchange:
``partitionBy(F.lit(1))`` is constant-folded away, so the spec is
``pmod(xxhash64(first_order_col), 1)`` — constant per row (always 0)
but non-foldable, and xxhash64 accepts ANY input type (a string url key
works; ``col % 1`` threw a runtime ANSI cast error on non-numeric keys).

Used by operators/similarity.py (cosine_topk), operators/search.py
(BM25 / embedding / RRF rankings) and the driver top-n queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _nonfoldable_zero(col: Column) -> Column:
    """A per-row constant 0 Catalyst can NOT fold to an empty window
    partition spec; type-agnostic (xxhash64 hashes any input type)."""
    return F.pmod(F.xxhash64(col), F.lit(1))


def ranked_topk(
    scored: DataFrame,
    order: list[Column],
    k: int,
    key: Column | str = "key",
) -> DataFrame:
    """Global top-k of ``scored`` by ``order`` (give a deterministic
    tie-break as the last order column) with a 1-based ``rank`` column;
    ``key`` is any column of the frame (used only for the non-foldable
    partition spec — its type does not matter).

    Plans TakeOrderedAndProject + a k-row rank window — never a global
    unpartitioned window over the full input.
    """
    key = F.col(key) if isinstance(key, str) else key
    top = scored.orderBy(*order).limit(k)
    w = W.partitionBy(_nonfoldable_zero(key)).orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w))
