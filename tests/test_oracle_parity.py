"""Replicates the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count + column names + order-insensitive values."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if v is None:
        return "\x00null"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    return str(v)


def _rowset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )


QUERY_NAMES = sorted(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_oracle_parity(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _rowset(spark_rows, spark_cols)
    b = _rowset(duck_rows, duck_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_rows_only_queries_run(spark, sf_dir):
    queries = entry_mod.queries()
    for name in sorted(set(queries) - set(entry_mod.oracle_sql())):
        df = queries[name](spark, sf_dir)
        assert df.count() >= 0, name
        assert len(df.schema.fields) > 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_xlsx_grid_roundtrip_matches_decode(spark):
    """The build+decode roundtrip (workbook bytes built in the same plan
    and projected through the shared grid-assertion accessors) must
    equal q_xlsx_decode's fused decode over its cached bytes."""
    from pyspark.sql import functions as F

    from fingerprint_spark.queries._common import _doc
    from fingerprint_spark.queries.rules import (
        _decode_grid_projection,
        _workbook_bytes_col,
        q_xlsx_decode,
    )

    built = _doc(spark, SF_DIR).select(
        "doc_id",
        _workbook_bytes_col(F.col("doc_id"), F.col("source")).alias("xlsx"),
    )
    a = {tuple(r) for r in _decode_grid_projection(built).collect()}
    b = {tuple(r) for r in q_xlsx_decode(spark, SF_DIR).collect()}
    assert a == b and len(a) > 0


def test_xlsx_decode_rebuilds_uncommitted_cache(spark, tmp_path):
    """A byte cache left without _SUCCESS (a build killed mid-write) is
    rebuilt, not read: the rows still equal the xlsx_decode oracle."""
    import hashlib
    import shutil

    from pyspark.sql import functions as F

    from fingerprint_spark.queries.rules import (
        _workbook_bytes_col,
        q_xlsx_decode,
    )

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", f"src{i % 3}", 6) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    tag = hashlib.md5(f"{sf}|grid-v1".encode()).hexdigest()[:12]
    cache = f"/tmp/fps_xlsx_bytes_{tag}.parquet"
    try:
        # the partial cache: a quarter of the rows, no commit marker
        docs.filter(F.col("doc_id") < 5).select(
            "doc_id",
            _workbook_bytes_col(F.col("doc_id"), F.col("source")).alias("xlsx"),
        ).write.mode("overwrite").parquet(cache)
        os.remove(os.path.join(cache, "_SUCCESS"))

        sdf = q_xlsx_decode(spark, sf)
        spark_rows = [tuple(r) for r in sdf.collect()]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{sf}/documents.parquet/*.parquet'"
        )
        res = con.execute(entry_mod.oracle_sql()["xlsx_decode"])
        duck_cols = [c[0] for c in res.description]
        duck_rows = res.fetchall()
        con.close()
        assert len(spark_rows) == len(duck_rows) == 20
        assert _rowset(spark_rows, sdf.columns) == _rowset(duck_rows, duck_cols)
        assert os.path.exists(os.path.join(cache, "_SUCCESS"))
    finally:
        shutil.rmtree(cache, ignore_errors=True)


def test_winnow_sketches_parity_on_adversarial_docs(spark, tmp_path):
    """Review findings r4: sub-k-char docs must not drop out of the
    winnow oracle (LEFT JOIN), and Unicode whitespace (NBSP) must not
    diverge the Python-UDF contract path from the Column/oracle paths
    (ASCII-\\s tokenization everywhere)."""
    import duckdb

    docs = [
        (0, "short", "s0", "en"),                       # < k=8 chars
        (1, "alpha beta gamma delta words here now", "s0", "en"),
        (2, "", "s1", "en"),                            # empty
        (3, "a perfectly ordinary document with words", "s1", "en"),
        (4, None, "s1", "en"),                          # NULL text (ADVICE r4)
    ]
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string"
    ).coalesce(1).write.parquet(d)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'"
    )
    for name in ("winnow", "sketches"):
        q = entry_mod.queries()[name]
        sdf = q(spark, str(tmp_path))
        spark_rows = [tuple(r) for r in sdf.collect()]
        res = con.execute(entry_mod.oracle_sql()[name])
        duck_cols = [c[0] for c in res.description]
        duck_rows = res.fetchall()
        assert len(spark_rows) == len(duck_rows) == 5, name
        a = _rowset(spark_rows, sdf.columns)
        b = _rowset(duck_rows, duck_cols)
        assert a == b, (name, a, b)
        # Column path == UDF path per row (the _u columns)
        for r in sdf.collect():
            base = [c for c in sdf.columns if not c.endswith("_u")
                    and c != "doc_id"]
            for c in base:
                assert r[c] == r[c + "_u"], (name, r["doc_id"], c)
    con.close()


def test_driver_query_budget_pinned():
    """VERDICT r4 #2: the driver's correctness harness records exactly
    ~50 rows; a 51st registration silently evicts the last-registered
    query from the hard signal (the round-3 winnow failure class).
    Adding a query now REQUIRES folding or retiring another."""
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert len(q) == 50, (
        f"driver budget is 50 registered queries, got {len(q)} — "
        "fold or retire a row before adding"
    )
    assert set(o) <= set(q)
    assert len(o) == 49  # 49 oracle + html_pipeline rows-only


def test_perplexity_oracle_on_adversarial_docs(spark, tmp_path):
    """The perplexity oracle row on edge inputs the sf corpus lacks:
    NULL text, empty text, text of only unseen chars (every gram hits
    the backoff), and a text longer than the 4000-char truncation
    point. All three engines (Spark exact path, Arrow UDF, DuckDB)
    must stay bit-identical on the integer contract columns."""
    import duckdb

    docs = [
        (0, None, "s0", "en"),
        (1, "", "s0", "en"),
        (2, "@@@@ ####", "s0", "en"),        # all-backoff grams
        (3, "the committee reviewed the evidence " * 200, "s1", "en"),
        (4, "it's got 'quotes' and\ttabs\nand newlines", "s1", "en"),
    ]
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string"
    ).coalesce(1).write.parquet(d)

    q = entry_mod.queries()["perplexity"]
    sdf = q(spark, str(tmp_path))
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    res = con.execute(entry_mod.oracle_sql()["perplexity"])
    duck_cols = [c[0] for c in res.description]
    duck_rows = res.fetchall()
    con.close()
    assert len(spark_rows) == len(duck_rows) == 5
    assert _rowset(spark_rows, sdf.columns) == _rowset(duck_rows, duck_cols)
    by_id = {r["doc_id"]: r for r in sdf.collect()}
    # NULL and empty text coalesce to the same padded shell: 1 gram
    assert by_id[0]["n_grams"] == by_id[1]["n_grams"] == 1
    assert by_id[0]["logp_micro_total"] == by_id[1]["logp_micro_total"]
    # truncation fired: ~4001 grams, not ~7200
    assert by_id[3]["n_grams"] == 4000 + 1
    # the production UDF agreed with the exact path on every row
    assert all(r["udf_agrees"] for r in sdf.collect())


def test_quality_classifier_weights_cross_engine_identical(spark):
    """The lever under the quality_score oracle row: Spark GD with
    per-epoch HALF_UP gradient rounding must learn weights
    BIT-IDENTICAL to the pure-Python twin, independent of input
    partitioning (distributed double sums differ in the last ulp;
    the rounding absorbs it)."""
    from fingerprint_spark.operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
        train_quality_logreg,
        train_quality_logreg_py,
    )

    train = spark.createDataFrame(
        QUALITY_TRAIN_FIXTURE, "text string, label int"
    )
    mp = train_quality_logreg_py(
        QUALITY_TRAIN_FIXTURE, dim=512, epochs=8, lr=2.0, grad_round_dp=6
    )
    for parts in (1, 7):
        ms = train_quality_logreg(
            train.repartition(parts), dim=512, epochs=8, lr=2.0,
            hasher="md5", grad_round_dp=6,
        )
        assert ms["bias"] == mp["bias"]
        assert ms["weights"] == mp["weights"]
    # and the model genuinely separates the fixture
    from fingerprint_spark.operators.quality_classifier import quality_score

    scored = quality_score(
        train, mp, text_col="text", hasher="md5"
    ).collect()
    acc = sum(
        (r["quality_prob"] >= 0.5) == (r["label"] == 1) for r in scored
    ) / len(scored)
    assert acc >= 0.95
