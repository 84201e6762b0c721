"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each query exists twice — as a DataFrame program (the engine under test)
and as ANSI SQL for DuckDB (the oracle). Both sides are generated from the
SAME module constants (marker lists, thresholds, regexes) so the pair can
only diverge through engine semantics, which is exactly what the driver's
row-count + schema + value-hash comparison is meant to catch.

Output discipline (driver hashes values after sorting columns by name):
- only strings / bigints / exact decimals in oracle-checked outputs;
- every computed column aliased identically on both sides;
- floats only when rounded, and only where a knife-edge tie is impossible.

The pairs live in the ``queries/`` family modules, one ``QUERIES`` table
each; this module merges the tables.
"""

from __future__ import annotations

from .queries import curation, dedup, relational, rules, text, vectors


def _merge(*tables: dict) -> dict:
    out: dict = {}
    for table in tables:
        for name, pair in table.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = pair
    return out


_QUERIES = _merge(
    text.QUERIES,
    dedup.QUERIES,
    curation.QUERIES,
    rules.QUERIES,
    vectors.QUERIES,
    relational.QUERIES,
)


def all_queries():
    return {name: fn for name, (fn, _sql) in _QUERIES.items()}


def all_oracle_sql():
    return {
        name: sql() for name, (_fn, sql) in _QUERIES.items() if sql is not None
    }
