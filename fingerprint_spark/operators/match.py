"""Match semantics: first-match-wins fold + parent/child routing.

Reference: src/pipeline/enricher.rs:201-268 (root fold, spec
docs/PLAN.md:635-636), :401-453 (children evaluated independently after a
root match), :434-450 (routing summary selected/no_child_match/ambiguous),
src/lib.rs:1043-1058 (ambiguous => partial outcome).

Spark expression: ``coalesce(when(m1, r1), when(m2, r2), ..., last)`` — a
deterministic priority fold over broadcast rules, NOT a shuffle join.
Catalyst short-circuits the when-chain; rule order is the CLI/registry
order, preserved exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dsl.compiler import compile_rule
from ..dsl.model import FingerprintDefinition

MATCH_RESULT_FIELDS = (
    "fingerprint_id", "version", "matched", "failed_assertion",
    "assertions", "source_hash",
)


def first_match_fold(
    rules: list[FingerprintDefinition], env: dict[str, Column]
) -> Column:
    """Root rules in order; first match stops; else the record carries the
    LAST attempt's no-match payload (enricher.rs:201-268)."""
    roots = [r for r in rules if r.parent is None]
    if not roots:
        raise ValueError("first_match_fold requires at least one root rule")
    compiled = [compile_rule(r, env) for r in roots]
    branches = [F.when(c["matched"], c) for c in compiled]
    return F.coalesce(*branches, compiled[-1])


def children_array(
    rules: list[FingerprintDefinition],
    env: dict[str, Column],
    winner_id: Column,
) -> Column:
    """After a root match, ALL requested children whose parent == winner
    are evaluated independently — not first-match (enricher.rs:401-453)."""
    children = [r for r in rules if r.parent is not None]
    if not children:
        return F.array().cast(
            "array<struct<fingerprint_id:string,version:string,matched:boolean,"
            "failed_assertion:string,"
            "assertions:array<struct<name:string,passed:boolean>>,"
            "source_hash:string>>"
        )
    compiled = [
        (r.parent, compile_rule(r, env)) for r in children
    ]
    elems = [
        F.when(winner_id == F.lit(parent), c) for parent, c in compiled
    ]
    arr = F.array(*elems)
    return F.filter(arr, lambda x: x.isNotNull())


def child_routing(children: Column) -> Column:
    """selected (exactly 1 matched) / no_child_match / ambiguous (>1)
    (enricher.rs:434-450). Null when no children were evaluated."""
    n_matched = F.size(F.filter(children, lambda c: c["matched"]))
    selected = F.try_element_at(F.filter(children, lambda c: c["matched"]), F.lit(1))
    return F.when(F.size(children) == 0, F.lit(None).cast(
        "struct<status:string,selected_id:string>"
    )).otherwise(
        F.struct(
            F.when(n_matched == 1, F.lit("selected"))
            .when(n_matched == 0, F.lit("no_child_match"))
            .otherwise(F.lit("ambiguous"))
            .alias("status"),
            F.when(n_matched == 1, selected["fingerprint_id"])
            .alias("selected_id"),
        )
    )


def match_levels(
    rules: list[FingerprintDefinition],
    env: dict[str, Column],
    result_col: str = "fingerprint",
) -> tuple[dict[str, Column], dict[str, Column], dict[str, Column]]:
    """The match pass as its three dependency levels: the root fold,
    the children (they read the fold's winner) and the routing summary
    (it reads the children). Each level is one projection; the Columns
    hold no DataFrame, so callers may build them once and reuse them."""
    winner = _winner(result_col)
    return (
        {result_col: first_match_fold(rules, env)},
        {"children": children_array(rules, env, winner)},
        {"child_routing": child_routing(F.col("children"))},
    )


def _winner(result_col: str) -> Column:
    return F.when(
        F.col(f"{result_col}.matched"), F.col(f"{result_col}.fingerprint_id")
    )


def apply_match(
    df: DataFrame,
    rules: list[FingerprintDefinition],
    env: dict[str, Column],
    result_col: str = "fingerprint",
    with_extracts: bool = False,
) -> DataFrame:
    """Full match pass: root fold + children + routing (+ extraction and
    content hash for the winning rule), one projection per level."""
    for level in match_levels(rules, env, result_col):
        df = df.withColumns(level)
    if with_extracts:
        df = apply_extracts(df, rules, env, _winner(result_col))
    return df


def apply_extracts(
    df: DataFrame,
    rules: list[FingerprintDefinition],
    env: dict[str, Column],
    winner_id: Column,
) -> DataFrame:
    """Winner-rule anchor extraction + content hash (extract.rs:14-29,
    content_hash.rs:7-69). Per-rule extract schemas differ, so the unified
    output is ``extracted: map<string, string>`` (extract name -> JSON of
    the anchor struct) — zero-retention metadata, never content."""
    from .extract import compile_extract, content_hash_for_rule

    ex_branches, ch_branches = [], []
    for r in rules:
        if r.parent is not None or not r.extract:
            continue
        is_winner = winner_id == F.lit(r.fingerprint_id)
        json_extracts = {
            e.name: F.to_json(compile_extract(e, env)) for e in r.extract
        }
        entries = []
        for e in r.extract:
            entries.append(F.lit(e.name))
            entries.append(json_extracts[e.name])
        ex_branches.append(F.when(is_winner, F.create_map(*entries)))
        ch_branches.append(
            F.when(is_winner, content_hash_for_rule(r, json_extracts, F.lit(True)))
        )
    if not ex_branches:
        df = df.withColumn(
            "extracted", F.lit(None).cast("map<string,string>")
        )
        df = df.withColumn("content_hash", F.lit(None).cast("string"))
    else:
        df = df.withColumn("extracted", F.coalesce(*ex_branches))
        df = df.withColumn("content_hash", F.coalesce(*ch_branches))
    # the SELECTED child's extract hash (enricher.rs:401-453: matched
    # child emits content_hash, unmatched children stay null)
    kid_branches = []
    for r in rules:
        if r.parent is None or not r.extract or r.content_hash is None:
            continue
        is_selected = F.col("child_routing").isNotNull() & (
            F.col("child_routing.selected_id") == F.lit(r.fingerprint_id)
        )
        json_extracts = {
            e.name: F.to_json(compile_extract(e, env)) for e in r.extract
        }
        kid_branches.append(
            F.when(
                is_selected, content_hash_for_rule(r, json_extracts, F.lit(True))
            )
        )
    if kid_branches:
        df = df.withColumn("child_content_hash", F.coalesce(*kid_branches))
    else:
        df = df.withColumn(
            "child_content_hash", F.lit(None).cast("string")
        )
    return df


def outcome_fold(df: DataFrame, result_col: str = "fingerprint") -> str:
    """Run outcome: OK unless any record is unmatched / skipped /
    ambiguous => PARTIAL (src/lib.rs:1012-1058, cli/exit.rs:3-20).
    Computed as one global aggregate, not a collect-loop."""
    bad = df.select(
        F.max(
            F.when(
                (~F.col(f"{result_col}.matched"))
                | (F.col("child_routing").isNotNull()
                   & (F.col("child_routing.status") != "selected")),
                1,
            ).otherwise(0)
        ).alias("bad")
    ).first()["bad"]
    return "PARTIAL" if bad else "OK"
