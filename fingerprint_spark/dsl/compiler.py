"""Rule compiler: FingerprintDefinition -> Catalyst Column expressions.

The reference interprets assertions record-at-a-time with per-eval regex
recompilation (assertions.rs:1643-1644); here each rule compiles ONCE at
the driver into a Column expression tree that Catalyst constant-folds and
whole-stage-codegens — the Spark analog of the reference's compile mode
(src/compile/codegen.rs), with the same provenance (source_hash carried
in the result struct).

The column environment is a dict of input columns:
    url     string
    ts      timestamp          (valid_from/valid_until gate; optional)
    parsed  parse.schema.PARSED_TYPE

Every rule is html (model.FORMATS), so no format gate is compiled: the
reference's per-document format check (enricher.rs:455-468) is decided
once, at validation.

Compiling an assertion is a lookup: its type's builder (``BUILDERS``)
over the env column the type's spec names, with the parameters
``model.clause_params`` checks and fills with defaults.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators import assertions as A
from .model import ASSERTION_TYPES, Clause, FingerprintDefinition, clause_params


# assertion type -> its Column builder, named after the type
BUILDERS = {t: getattr(A, t) for t in ASSERTION_TYPES}


def compile_assertion(a: Clause, env: dict[str, Column]) -> Column:
    """One assertion -> Column<boolean>: the type's builder over the env
    column its spec names, with the checked parameters (clause_params).
    Nulls coalesce to False so a missing/unparsed document fails the
    assertion rather than poisoning the fold (reference: parse failure
    -> skip, enricher.rs:145-159)."""
    col = BUILDERS[a.type](env[a.spec.input], **clause_params(a))
    return F.coalesce(col, F.lit(False))


def rule_applicable(d: FingerprintDefinition, env: dict[str, Column]) -> Column:
    """valid_from/valid_until window against the document timestamp
    (parser.rs:11-12 -> warc_ts predicate per SURVEY §1.6)."""
    gate = F.lit(True)
    ts = env.get("ts")
    if ts is not None:
        if d.valid_from:
            gate = gate & (ts >= F.lit(str(d.valid_from)).cast("timestamp"))
        if d.valid_until:
            gate = gate & (ts < F.lit(str(d.valid_until)).cast("timestamp"))
    return gate


def compile_rule(d: FingerprintDefinition, env: dict[str, Column]) -> Column:
    """Rule -> struct(fingerprint_id, version, matched, failed_assertion,
    assertions: array<struct<name,passed>>, source_hash).

    Ordered evaluation with first-failure reason: ``matched`` is the AND
    chain (Catalyst short-circuits); ``failed_assertion`` is the first
    failed name via coalesce(when...) — the declaration-order semantics
    of assertions.rs:230-247 without per-record interpretation.
    """
    results = [(a.name, compile_assertion(a, env)) for a in d.assertions]
    matched = rule_applicable(d, env)
    for _name, col in results:
        matched = matched & col
    failed = F.coalesce(
        *[F.when(~col, F.lit(name)) for name, col in results],
        F.lit(None).cast("string"),
    )
    return F.struct(
        F.lit(d.fingerprint_id).alias("fingerprint_id"),
        F.lit(d.version).alias("version"),
        matched.alias("matched"),
        F.when(~matched, failed).alias("failed_assertion"),
        F.array(
            *[
                F.struct(F.lit(name).alias("name"), col.alias("passed"))
                for name, col in results
            ]
        ).alias("assertions"),
        F.lit(d.source_hash).alias("source_hash"),
    )
