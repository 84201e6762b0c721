"""Driver contract for the spark-graft builder (PySpark target).

entry(spark):   flagship query (full quality-filter chain) on sf0.001.
queries():      operator-level queries from SURVEY.md §2 (+ training-data
                ops); each callable takes (spark, sf_dir) -> DataFrame.
oracle_sql():   DuckDB-equivalent ANSI SQL per oracle-checked query.

The package ships to executors via addPyFile (the spark-submit
--py-files pattern of the north_rule): UDF closures reference
``fingerprint_spark``, which must be importable inside Python workers
regardless of the driver's cwd.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

def ensure_pyfiles(spark: SparkSession) -> None:
    """addPyFile once per SparkContext (spark-submit --py-files analog)."""
    from fingerprint_spark.deploy import ensure_pyfiles as _ep

    _ep(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> input_hint shape -> full pipeline (parse UDF
    -> broadcast template fold -> langid -> perplexity -> heuristics ->
    scrub -> verdict) on /root/testdata/sf0.001."""
    ensure_pyfiles(spark)
    from fingerprint_spark.queries.text import q_html_pipeline

    return q_html_pipeline(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_pyfiles(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from fingerprint_spark.entry_queries import all_queries

    return {name: _wrap(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from fingerprint_spark.entry_queries import all_oracle_sql

    return all_oracle_sql()
