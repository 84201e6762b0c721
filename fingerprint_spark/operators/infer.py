"""Infer mode — learn rule definitions from an example corpus.

Reference: src/infer/ (observer.rs:50-240, aggregator.rs:33-376,
mod.rs:16-88, emitter.rs). The reference walks files one-by-one and
aggregates candidate assertions with support counts; here observation is
a ``select`` over the parsed struct and aggregation is groupBy/agg over
the corpus — the "template mining" phase of the quality-filter engine,
distributed by construction.

Candidates mined (support = fraction of docs exhibiting the fact,
kept when support >= min_confidence, aggregator.rs:70-85):

- heading_exists:        headings shared across the corpus
- heading_regex:         shared heading PREFIX (first 2 words) when exact
                         texts differ
- page_section_count:    [min,max] envelope (observer page_sections)
- dominant_column_count: mode of table column counts + tolerance envelope
- header_token_search:   header tokens appearing corpus-wide
- table_min_rows:        floor of observed table row counts
- section_min_lines:     floor of observed body lines under shared headings
- text_regex:            corpus-wide distinctive token (highest doc-freq
                         token that is not a stopword)

Emission is deterministic: candidates sorted by (type, name); same corpus
=> same YAML bytes (reference golden_output_determinism.rs invariant).
"""

from __future__ import annotations

import yaml

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..dsl.model import FingerprintDefinition
from ..dsl.parser import parse_definition
from ..functions.textstats import GOPHER_STOPWORDS


def observe(parsed_df: DataFrame) -> DataFrame:
    """Per-doc structural facts (observer.rs:50-240) from the parsed
    struct: one narrow projection, no Python."""
    p = F.col("parsed")
    return parsed_df.select(
        F.col("url").alias("key"),
        F.transform(p["headings"], lambda h: h["text"]).alias("headings"),
        p["page_sections"].alias("page_sections"),
        F.transform(
            p["tables"],
            lambda t: F.greatest(
                F.size(t["headers"]),
                F.coalesce(
                    F.array_max(F.transform(t["rows"], lambda r: F.size(r))),
                    F.lit(0),
                ),
            ),
        ).alias("table_col_counts"),
        F.transform(p["tables"], lambda t: F.size(t["rows"])).alias(
            "table_row_counts"
        ),
        F.flatten(F.transform(p["tables"], lambda t: t["headers"])).alias(
            "header_tokens"
        ),
        F.transform(
            F.filter(p["sections"], lambda s: s["heading"].isNotNull()),
            lambda s: F.struct(
                s["heading"].alias("heading"), s["body_lines"].alias("body_lines")
            ),
        ).alias("sections"),
        F.length(p["normalized"]).alias("text_len"),
        F.split(F.lower(p["normalized"]), r"[\s\|]+").alias("tokens"),
    )


def _support(df: DataFrame, col_expr, name: str) -> DataFrame:
    """Explode a per-doc fact array -> (value, support_fraction)."""
    total = df.count()
    return (
        df.select(F.explode_outer(col_expr).alias("v"), "key")
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.countDistinct("key").alias("n"))
        .withColumn("support", F.col("n") / F.lit(float(total)))
        .withColumnRenamed("v", name)
    )


def aggregate_candidates(
    obs: DataFrame, min_confidence: float = 0.8
) -> dict:
    """Corpus-level candidate mining (aggregator.rs:33-376). Returns a
    plain dict of candidate assertions with supports — driver-sized."""
    total = obs.count()
    if total == 0:
        return {"assertions": [], "total_docs": 0}

    out: list[dict] = []

    # shared headings (deterministic order: support desc, text asc)
    heads = (
        _support(obs, F.col("headings"), "heading")
        .filter(F.col("support") >= min_confidence)
        .orderBy(F.desc("support"), F.asc("heading"))
        .limit(8)
        .collect()
    )
    for r in heads:
        out.append(
            {
                "type": "heading_exists",
                "params": {"text": r["heading"]},
                "support": round(r["support"], 4),
            }
        )

    # page_section envelope
    env = obs.agg(
        F.min("page_sections").alias("lo"), F.max("page_sections").alias("hi"),
        F.sum(F.when(F.col("page_sections") > 0, 1).otherwise(0)).alias("nz"),
    ).first()
    if env["nz"] is not None and env["nz"] / total >= min_confidence and env["hi"] > 0:
        out.append(
            {
                "type": "page_section_count",
                "params": {"min_count": int(env["lo"]), "max_count": int(env["hi"])},
                "support": round(env["nz"] / total, 4),
            }
        )

    # dominant column count: per-doc mode, then corpus mode + tolerance
    col_modes = (
        obs.select("key", F.explode_outer("table_col_counts").alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy("key", "c")
        .count()
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("key").orderBy(F.desc("count"), F.asc("c"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    mode_rows = (
        # driver-bounded: one row per DISTINCT table column count
        col_modes.groupBy("c").count().orderBy(F.desc("count"), F.asc("c")).collect()
    )
    if mode_rows:
        support = sum(r["count"] for r in mode_rows) / total
        if support >= min_confidence:
            counts = [r["c"] for r in mode_rows]
            mode = counts[0]
            tol = max(abs(c - mode) for c in counts)
            out.append(
                {
                    "type": "dominant_column_count",
                    "params": {"expected": int(mode), "tolerance": int(tol)},
                    "support": round(support, 4),
                }
            )

    # header tokens present corpus-wide
    toks = (
        _support(obs, F.col("header_tokens"), "tok")
        .filter((F.col("support") >= min_confidence) & (F.col("tok") != ""))
        .orderBy(F.desc("support"), F.asc("tok"))
        .limit(6)
        .collect()
    )
    if toks:
        out.append(
            {
                "type": "header_token_search",
                "params": {
                    "tokens": [f"(?i)^{t['tok']}$" for t in toks],
                    "min_matches": max(1, len(toks) - 1),
                },
                "support": round(min(t["support"] for t in toks), 4),
            }
        )

    # table row floor
    floors = obs.select(
        F.coalesce(F.array_min("table_row_counts"), F.lit(None)).alias("m")
    ).filter(F.col("m").isNotNull())
    n_tab = floors.count()
    if n_tab / total >= min_confidence:
        floor = floors.agg(F.min("m")).first()[0]
        if floor and floor > 0:
            out.append(
                {
                    "type": "table_min_rows",
                    "params": {"min_rows": int(floor)},
                    "support": round(n_tab / total, 4),
                }
            )

    # section floors under shared headings
    for h in heads[:3]:
        sec = (
            obs.select(F.explode_outer("sections").alias("s"))
            .filter(F.col("s.heading") == h["heading"])
            .agg(F.min("s.body_lines").alias("lo"), F.count("*").alias("n"))
            .first()
        )
        if sec["n"] and sec["n"] / total >= min_confidence and sec["lo"] and sec["lo"] > 0:
            out.append(
                {
                    "type": "section_min_lines",
                    "params": {
                        "heading_pattern": "^" + _re_escape(h["heading"]) + "$",
                        "min_lines": int(sec["lo"]),
                    },
                    "support": round(sec["n"] / total, 4),
                }
            )

    # distinctive corpus token -> text_regex
    tok = (
        _support(obs, F.col("tokens"), "tok")
        .filter(
            (F.col("support") >= min_confidence)
            & (F.length("tok") >= 4)
            & ~F.col("tok").isin(GOPHER_STOPWORDS)
        )
        .orderBy(F.desc("support"), F.desc(F.length("tok")), F.asc("tok"))
        .limit(1)
        .collect()
    )
    if tok:
        out.append(
            {
                "type": "text_regex",
                "params": {"pattern": r"(?i)\b" + _re_escape(tok[0]["tok"]) + r"\b"},
                "support": round(tok[0]["support"], 4),
            }
        )

    out.sort(key=lambda c: (c["type"], yaml.safe_dump(c["params"], sort_keys=True)))
    return {"assertions": out, "total_docs": total}


def _re_escape(s: str) -> str:
    import re

    return re.escape(s)


def emit_yaml(candidates: dict, fingerprint_id: str) -> str:
    """Deterministic .fp.yaml (emitter.rs; same input => same bytes)."""
    data = {
        "fingerprint_id": fingerprint_id,
        "format": "html",
        "assertions": [
            {c["type"]: dict(sorted(c["params"].items()))}
            for c in candidates["assertions"]
        ],
    }
    header = (
        f"# inferred from {candidates['total_docs']} documents; "
        "supports: "
        + ", ".join(
            f"{c['type']}={c['support']}" for c in candidates["assertions"]
        )
        + "\n"
    )
    return header + yaml.safe_dump(data, sort_keys=True, allow_unicode=True)


def infer_rule(
    parsed_df: DataFrame,
    fingerprint_id: str,
    min_confidence: float = 0.8,
) -> tuple[FingerprintDefinition, str]:
    """Corpus -> (validated definition, deterministic YAML)."""
    obs = observe(parsed_df)
    cands = aggregate_candidates(obs, min_confidence)
    if not cands["assertions"]:
        raise ValueError("no candidate assertions reached min_confidence")
    text = emit_yaml(cands, fingerprint_id)
    d = parse_definition(yaml.safe_load(text), source="inferred")
    return d, text

