"""What several query families share: the documents read, the scan
fan-out, the html escape of the synthesized pages and the DuckDB
fragments of the langid, Gopher and keep-verdict stages."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.langid import LANGS, MIN_SCORE, sql_lang_score
from ..functions.textstats import oracle_flags_sql, oracle_stats_sql


def _doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_FAN_OUT_MAX_BYTES = 256 << 20


def _fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan fan-out (optimization guide §2.6/§6): the test
    corpora are single small parquet files with one row group, so the
    scan yields ONE split and every narrow stage above it (regex chains,
    Arrow UDFs, explode+map-side aggregation) serializes onto one core.
    Round-robin repartition to the session's parallelism ONLY when the
    scan under-splits AND the input is small enough that the extra
    exchange is trivially cheap (on a moderately-split mid-size table
    the repartition costs more than the tail it fixes — measured on the
    10x lineitem replica; and at real scale the scan already yields >=
    cores splits). The conditions (not constants) are what keep this
    scale-adaptive rather than tuned to local[32]."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if size < _FAN_OUT_MAX_BYTES:
        return df.repartition(p)
    return df


def _sql_lang_scores() -> str:
    """CTE body computing per-language marker fractions."""
    return (
        "SELECT doc_id, "
        + ", ".join(
            f"{sql_lang_score(lang)} AS s_{lang}" for lang in LANGS
        )
        + " FROM documents"
    )


def _sql_lang_case() -> str:
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANGS) + ")"
    whens = " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in LANGS
    )
    return f"CASE WHEN {best} < {MIN_SCORE} THEN 'und' {whens} END"


def _sql_stats_cte() -> str:
    """Per-doc statistics CTE matching functions.textstats.text_stats."""
    frags = oracle_stats_sql("text")
    cols = ", ".join(f"{expr} AS {name}" for name, expr in frags.items())
    return f"SELECT doc_id, text, {cols} FROM documents"


def _sql_keep_ctes() -> str:
    """The WITH clause of the text keep verdict: CTE ``j`` is one row
    per document with its statistics and lang_detected."""
    return f"""WITH stats AS ({_sql_stats_cte()}),
langs AS ({_sql_lang_scores()}),
l AS (SELECT doc_id, {_sql_lang_case()} AS lang_detected FROM langs),
j AS (SELECT s.*, l.lang_detected FROM stats s JOIN l USING (doc_id))"""


def _sql_flag_whens(then: str) -> str:
    """The Gopher clauses of the keep CASE: one ``WHEN NOT <flag> THEN
    <then>`` per flag in drop_reason order; ``{flag}`` in ``then`` is
    replaced by the flag name."""
    return " ".join(
        f"WHEN NOT {expr} THEN {then.format(flag=flag)}"
        for flag, expr in oracle_flags_sql().items()
    )


def _escape_html(text: Column) -> Column:
    """&, < and > as html entities for the synthesized pages. Literal
    escapes via replace(), not regexp_replace — same bytes, no regex
    engine on the hot path (r6 guide §1.2 "per-task work")."""
    return F.replace(
        F.replace(
            F.replace(text, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
