"""Pin every driver query's rows and oracle SQL by digest.

Per query, tests/fixtures/query_digests.json holds two sha256 digests:
``rows``, over the query's sorted row set on the sf0.001 corpus,
normalized as test_oracle_parity normalizes before it compares; and
``sql``, over its oracle SQL text, null for a rows-only query. A query
that is moved or refactored keeps both, so this also pins the one query
the DuckDB oracle does not cover (html_pipeline) against regressions.

    python tests/test_query_digests.py [SF_DIR]

prints the table as JSON (TEST_CORES sets the session's cores, as in
conftest). Regenerate the fixture from that output only for a deliberate
change to a query's rows or SQL.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

import pytest

from conftest import default_sf_dir  # also puts the repo root on sys.path

import __spark_entry__ as entry_mod
from test_oracle_parity import _rowset

FIXTURE = Path(__file__).resolve().parent / "fixtures" / "query_digests.json"
PINNED = json.loads(FIXTURE.read_text(encoding="utf-8"))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def sql_digests() -> dict[str, str | None]:
    sql = entry_mod.oracle_sql()
    return {name: _sha(sql[name]) if name in sql else None
            for name in entry_mod.queries()}


def row_digest(spark, sf_dir: str, name: str) -> str:
    df = entry_mod.queries()[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    return _sha("\n".join(_rowset(rows, df.columns)))


def test_query_names_match_fixture():
    assert sorted(entry_mod.queries()) == sorted(PINNED)


def test_oracle_sql_digests():
    got = sql_digests()
    changed = sorted(n for n in PINNED if got.get(n) != PINNED[n]["sql"])
    assert not changed, f"oracle SQL changed: {changed}"


@pytest.mark.parametrize("name", sorted(PINNED))
def test_row_digest(spark, sf_dir, name):
    if Path(sf_dir).name != "sf0.001":
        pytest.skip("row digests are pinned on the sf0.001 corpus")
    assert row_digest(spark, sf_dir, name) == PINNED[name]["rows"], name


if __name__ == "__main__":
    from fingerprint_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else default_sf_dir()
    session = get_spark("query_digests", cores=os.environ.get("TEST_CORES", "8"))
    sqls = sql_digests()
    table = {
        name: {"rows": row_digest(session, sf, name), "sql": sqls[name]}
        for name in sorted(sqls)
    }
    print(json.dumps(table, indent=1, sort_keys=True))
