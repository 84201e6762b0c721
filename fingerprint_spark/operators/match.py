"""Match semantics: first-match-wins fold + parent/child routing.

Reference: src/pipeline/enricher.rs:201-268 (root fold, spec
docs/PLAN.md:635-636), :401-453 (children evaluated independently after a
root match), :434-450 (routing summary selected/no_child_match/ambiguous),
src/lib.rs:1043-1058 (ambiguous => partial outcome); the winner's
anchor extraction + content hash, enricher.rs:241-257,470-499.

Spark expression: ``coalesce(when(m1, r1), when(m2, r2), ..., last)`` — a
deterministic priority fold over broadcast rules, NOT a shuffle join.
Catalyst short-circuits the when-chain; rule order is the CLI/registry
order, preserved exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dsl.compiler import compile_rule
from ..dsl.model import FingerprintDefinition
from .extract import compile_extract, content_hash_for_rule


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
) -> tuple[dict[str, Column], ...]:
    """The match pass as its dependency levels: the root fold, the
    children (they read the fold's winner), the routing summary (it
    reads the children) and, only when a rule declares ``extract``, the
    winner's extraction (it reads the winner and the routing). Each
    level is one projection; the Columns hold no DataFrame, so callers
    may build them once and reuse them."""
    winner = F.when(
        F.col("fingerprint.matched"), F.col("fingerprint.fingerprint_id")
    )
    levels = (
        {"fingerprint": first_match_fold(rules, env)},
        {"children": children_array(rules, env, winner)},
        {"child_routing": child_routing(F.col("children"))},
    )
    if any(r.extract for r in rules):
        levels += (_extract_level(rules, env, winner),)
    return levels


def _extract_level(
    rules: list[FingerprintDefinition],
    env: dict[str, Column],
    winner_id: Column,
) -> dict[str, Column]:
    """Winner-rule anchor extraction + content hash (extract.rs:14-29,
    content_hash.rs:7-69, enricher.rs:241-257). Per-rule extract schemas
    differ, so the unified output is ``extracted: map<string, string>``
    (extract name -> JSON of the anchor struct) — zero-retention
    metadata, never content. ``child_content_hash`` is the SELECTED
    child's hash (enricher.rs:401-453: a matched child emits its
    content_hash, unmatched children stay null)."""
    ex_branches, ch_branches, kid_branches = [], [], []
    for r in rules:
        if not r.extract or (r.parent is not None and r.content_hash is None):
            continue
        json_extracts = {
            e.name: F.to_json(compile_extract(e, env)) for e in r.extract
        }
        digest = content_hash_for_rule(r, json_extracts)
        if r.parent is not None:
            is_selected = F.col("child_routing").isNotNull() & (
                F.col("child_routing.selected_id") == F.lit(r.fingerprint_id)
            )
            kid_branches.append(F.when(is_selected, digest))
            continue
        is_winner = winner_id == F.lit(r.fingerprint_id)
        entries = []
        for name, col in json_extracts.items():
            entries += [F.lit(name), col]
        ex_branches.append(F.when(is_winner, F.create_map(*entries)))
        ch_branches.append(F.when(is_winner, digest))

    def first(branches: list[Column], null_type: str) -> Column:
        return F.coalesce(*branches) if branches else F.lit(None).cast(null_type)

    return {
        "extracted": first(ex_branches, "map<string,string>"),
        "content_hash": first(ch_branches, "string"),
        "child_content_hash": first(kid_branches, "string"),
    }
