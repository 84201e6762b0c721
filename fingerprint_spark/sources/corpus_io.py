"""Corpus IO — Iceberg-style partitioned storage with partition pruning.

The production target is an Iceberg table partitioned by ingestion day
(BASELINE.json input_hint); this sandbox has no Iceberg runtime jar, so
the same layout is realized as day-partitioned parquet — the pruning,
predicate-pushdown and resume semantics are identical at the plan level,
and swapping `format("parquet")` for `format("iceberg")` is the only
change on a real lakehouse.

``read_corpus`` with a day filter must show PartitionFilters in the scan
(tested), so a 100 TB table scoped to one day reads ~1/365th of the
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_corpus(
    spark: SparkSession,
    path: str,
    day: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Scoped scan: day filter -> partition pruning; column list ->
    parquet column pruning (ReadSchema). Both verified in tests against
    the physical plan."""
    df = spark.read.parquet(path)
    if day is not None:
        df = df.filter(F.col("warc_day") == day)
    if columns:
        df = df.select(*columns)
    return df
