"""struct-check mode — directory completeness over a file manifest.

Reference: src/struct_check/checker.rs:78-381, rules.rs:12-38 (vacuum.v0
JSONL -> dir -> set of filenames; glob ``group_by`` selects dirs; each
``required`` glob needs >= 1 file; outcome complete/partial/empty;
``unexpected`` files listed).

Spark mapping: groupBy(dirname) + collect_set(filename), then per-rule
glob checks as array expressions (SURVEY §2.9). Globs are translated to
anchored regexes at the driver (fnmatch semantics).
"""

from __future__ import annotations

import fnmatch
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class StructRule:
    """One completeness rule (rules.rs:12-38)."""

    name: str
    group_by: str                      # glob over dir path
    required: tuple[str, ...]          # each glob needs >= 1 match
    allowed: tuple[str, ...] = ()      # extra globs that are not 'unexpected'


def _glob_re(g: str) -> str:
    return fnmatch.translate(g).replace("\\Z", "$")


def dirs_from_manifest(manifest: DataFrame) -> DataFrame:
    """(dir, files: array<string>) from a flat file manifest's ``path``
    column (checker.rs:78-146). Files are sort_array'd for deterministic
    downstream output."""
    p = F.col("path")
    return (
        manifest.select(
            F.regexp_extract(p, r"^(.*)/[^/]+$", 1).alias("dir"),
            F.regexp_extract(p, r"([^/]+)$", 1).alias("file"),
        )
        .groupBy("dir")
        .agg(F.sort_array(F.collect_set("file")).alias("files"))
    )


def check_rule(dirs: DataFrame, rule: StructRule) -> DataFrame:
    """Apply one rule -> (dir, outcome, missing, unexpected).

    outcome: complete (all required present) / partial (some) / empty
    (none) — checker.rs:151-381."""
    selected = dirs.filter(F.col("dir").rlike(_glob_re(rule.group_by)))

    def matcher(glob: str):
        # NB: a `g=g` default arg would make Spark treat the lambda as a
        # two-parameter (value, index) HOF lambda — use a closure factory
        pat = _glob_re(glob)
        return lambda f: F.regexp_like(f, F.lit(pat))

    present_flags = [
        F.exists(F.col("files"), matcher(g)) for g in rule.required
    ]
    n_present = sum(f.cast("int") for f in present_flags) if present_flags else F.lit(0)
    missing_exprs = F.filter(
        F.array(
            *[
                F.when(~flag, F.lit(g)) for g, flag in zip(rule.required, present_flags)
            ]
        ),
        lambda x: x.isNotNull(),
    )
    ok_globs = list(rule.required) + list(rule.allowed)
    unexpected = F.filter(
        F.col("files"),
        lambda f: ~sum(
            (F.regexp_like(f, F.lit(_glob_re(g))).cast("int") for g in ok_globs),
            F.lit(0),
        ).cast("boolean"),
    ) if ok_globs else F.col("files")
    outcome = (
        F.when(n_present == len(rule.required), "complete")
        .when(n_present == 0, "empty")
        .otherwise("partial")
    )
    return selected.select(
        "dir",
        F.lit(rule.name).alias("rule"),
        outcome.alias("outcome"),
        missing_exprs.alias("missing"),
        unexpected.alias("unexpected"),
    )


def struct_check(manifest: DataFrame, rules: list[StructRule]) -> DataFrame:
    """All rules -> union of per-dir outcomes, deterministic order."""
    dirs = dirs_from_manifest(manifest)
    out = None
    for r in rules:
        part = check_rule(dirs, r)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("rule", "dir")
