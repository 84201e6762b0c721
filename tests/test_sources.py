"""Source operators: dispatch, CSV grids, PDF struct, partitioned IO."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.dsl.compiler import compile_assertion
from fingerprint_spark.dsl.model import make_assertion
from fingerprint_spark.sources import (
    detect_format,
    parse_by_format,
    read_corpus,
)
from fingerprint_spark.sources.grid import xlsx_to_sheets
from helpers import write_corpus_partitioned


def test_detect_format(spark):
    rows = [
        ("http://x/a.HTML", "html"), ("http://x/a.md", "markdown"),
        ("http://x/a.csv", "csv"), ("http://x/a.TSV", "text"),
        ("http://x/a.xlsx", "xlsx"), ("http://x/a.pdf", "pdf"),
        ("http://x/a.bin", "unknown"), ("http://x/noext", "unknown"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], ["url"])
    got = [
        r["f"] for r in df.select(detect_format(F.col("url")).alias("f")).collect()
    ]
    assert got == [f for _u, f in rows]


CSV = 'name,qty,price\nwidget,"2",3.50\ngadget,5,"1,200.00"\n'


def test_csv_grid_and_fallback(spark):
    df = spark.createDataFrame(
        [
            ("http://x/data.csv", CSV),
            ("http://x/notes.txt", CSV),        # csv-text fallback probe
            ("http://x/page.html", "<html><body><h1>T</h1></body></html>"),
        ],
        ["url", "html"],
    )
    out = parse_by_format(df, content_col="html")
    rows = {r["url"]: r for r in out.collect()}

    # csv rows get the grid under all three virtual names
    sheets = rows["http://x/data.csv"]["sheets"]
    assert set(sheets) == {"Sheet1", "csv", "data"}
    assert sheets["csv"][0] == ["name", "qty", "price"]
    assert sheets["csv"][2][2] == "1,200.00"  # quoted comma survives

    # txt gets the fallback grid too (enricher.rs:270-372)
    assert rows["http://x/notes.txt"]["sheets"]["Sheet1"][1][0] == "widget"
    # html rows parse structurally, no grid
    assert rows["http://x/page.html"]["sheets"] is None
    assert rows["http://x/page.html"]["parsed"]["headings"][0]["text"] == "T"

    # the spreadsheet assertion family runs against the dispatched grid
    env = {"url": F.col("url"), "sheets": F.col("sheets")}
    a = make_assertion(
        "cell_eq", "t", {"sheet": "Sheet1", "cell": "A2", "value": "widget"}
    )
    ok = (
        out.filter(F.col("url") == "http://x/data.csv")
        .select(compile_assertion(a, env).alias("r"))
        .first()["r"]
    )
    assert ok is True


def test_pdf_struct_feeds_page_count_assertion(spark):
    df = spark.createDataFrame(
        [(12, {"Title": "X"}, "tiny"), (12, {"Title": "X"}, "t" * 200),
         (3, {"Title": "X"}, "tiny")],
        "page_count int, metadata map<string,string>, text string",
    )
    df = df.withColumn("pdf", F.struct("page_count", "metadata"))

    env = {"pdf": F.col("pdf")}
    a = make_assertion("page_count", "t", {"min_pages": 10, "max_pages": 20})
    got = [r["r"] for r in df.select(compile_assertion(a, env).alias("r")).collect()]
    assert got == [True, True, False]


def test_xlsx_codec_roundtrip_and_rejects_garbage():
    from fingerprint_spark.sources.xlsx import make_xlsx

    grid = {"Summary": [["Name", "Amount"], ["alpha", "12.5"], ["beta", "7"]]}
    assert xlsx_to_sheets(make_xlsx(grid)) == grid
    with pytest.raises(ValueError):
        xlsx_to_sheets(b"PK...")          # truncated zip
    with pytest.raises(ValueError):
        xlsx_to_sheets(b"not a zip at all")


def test_xlsx_shared_strings_and_sparse_rows():
    """Reader handles the sharedStrings table (t='s'), rich-text runs,
    booleans, skipped rows/cells — the shapes real writers emit."""
    import io
    import zipfile

    def zput(zf, n, c):
        zf.writestr(zipfile.ZipInfo(n, (1980, 1, 1, 0, 0, 0)), c)

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zput(zf, "xl/workbook.xml",
             f'<workbook xmlns="{ns}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
             '<sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>')
        zput(zf, "xl/_rels/workbook.xml.rels",
             '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
             '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>')
        zput(zf, "xl/sharedStrings.xml",
             f'<sst xmlns="{ns}"><si><t>hello</t></si>'
             '<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>')
        zput(zf, "xl/worksheets/sheet1.xml",
             f'<worksheet xmlns="{ns}"><sheetData>'
             '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
             '<c r="C1" t="b"><v>1</v></c></row>'
             '<row r="3"><c r="B3"><v>42</v></c></row>'
             "</sheetData></worksheet>")
    s = xlsx_to_sheets(buf.getvalue())
    assert s["S1"] == [
        ["hello", "rich", "TRUE"],
        ["", "", ""],
        ["", "42", ""],
    ]


def test_spreadsheet_assertions_on_real_xlsx_bytes(spark):
    """The whole grid-assertion family over REAL xlsx bytes decoded in a
    Spark UDF (xlsx.rs:12-98 parity on actual file bytes, not synthetic
    grids)."""
    from fingerprint_spark.sources.xlsx import make_xlsx, sheets_from_xlsx_col

    good = make_xlsx(
        {"Report": [["Item", "Qty"], ["widget", "3"], ["gizmo", "5"]]}
    )
    missing_sheet = make_xlsx({"Other": [["x"]]})
    rows = [("u1", bytearray(good)), ("u2", bytearray(missing_sheet)),
            ("u3", bytearray(b"garbage-not-xlsx"))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    df = df.withColumn("sheets", sheets_from_xlsx_col(F.col("payload")))
    env = {"sheets": F.col("sheets")}

    def run(atype, params):
        a = make_assertion(atype, "t", params)
        return [
            r["r"]
            for r in df.orderBy("url")
            .select(compile_assertion(a, env).alias("r"))
            .collect()
        ]

    assert run("sheet_exists", {"sheet": "report"}) == [True, False, False]
    assert run("cell_eq", {"sheet": "Report", "cell": "B2", "value": "3"}) == [
        True, False, False,
    ]
    assert run("sheet_min_rows", {"sheet": "Report", "min_rows": 3}) == [
        True, False, False,
    ]
    assert run(
        "range_non_null", {"sheet": "Report", "range": "A1:B3"}
    ) == [True, False, False]  # null sheets map -> assertion fails (refusal semantics)


def test_pdf_assertions_on_real_pdf_bytes(spark):
    """page_count / metadata_regex over REAL pdf bytes parsed in a Spark
    UDF (pdf.rs:18-61 parity on actual file bytes)."""
    from fingerprint_spark.sources.pdf import pdf_struct_from_binary_col
    from helpers import make_pdf

    rows = [
        ("u1", bytearray(make_pdf(12, {"Title": "Annual Report 2024"}))),
        ("u2", bytearray(make_pdf(3, {"Title": "memo"}))),
        ("u3", bytearray(b"%not-a-pdf")),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    df = df.withColumn("pdf", pdf_struct_from_binary_col(F.col("payload")))
    env = {"pdf": F.col("pdf")}

    a = make_assertion("page_count", "t", {"min_pages": 10, "max_pages": 20})
    got = [
        r["r"]
        for r in df.orderBy("url").select(compile_assertion(a, env).alias("r")).collect()
    ]
    assert got == [True, False, False]

    a2 = make_assertion(
        "metadata_regex", "t", {"key": "title", "pattern": r"Annual.*\d{4}"}
    )
    got2 = [
        r["r"]
        for r in df.orderBy("url").select(compile_assertion(a2, env).alias("r")).collect()
    ]
    assert got2 == [True, False, False]


def test_partition_pruning_and_column_pruning(spark, tmp_path):
    path = str(tmp_path / "corpus")
    docs = generate_corpus(spark, 3000, partitions=8)  # warc_ts spans ~2 days
    write_corpus_partitioned(docs, path)

    day = spark.read.parquet(path).select("warc_day").first()["warc_day"]
    scoped = read_corpus(spark, path, day=str(day), columns=["url", "text"])
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    # partition pruning reached the scan
    assert "PartitionFilters" in plan and "warc_day" in plan
    # column pruning: html must NOT be in the read schema
    import re

    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "html" not in m.group(1) and "url" in m.group(1)
    assert scoped.count() > 0
    assert scoped.count() < 3000  # genuinely scoped to one day


def test_dispatch_binary_formats_end_to_end(spark):
    """Extension dispatch routes xlsx bytes to the grid codec and pdf
    bytes to the struct parser in the SAME plan as html/csv rows."""
    from helpers import make_pdf
    from fingerprint_spark.sources.xlsx import make_xlsx

    xlsx = make_xlsx({"Report": [["Item", "Qty"], ["widget", "3"]]})
    pdf = make_pdf(4, {"Title": "Memo"})
    rows = [
        ("http://x/book.xlsx", bytearray(xlsx)),
        ("http://x/doc.pdf", bytearray(pdf)),
        ("http://x/page.html", bytearray(b"<html><body><h1>T</h1></body></html>")),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = parse_by_format(df, binary_formats=True)
    got = {r["url"]: r for r in out.collect()}
    assert got["http://x/book.xlsx"]["sheets"]["Report"][1] == ["widget", "3"]
    assert got["http://x/doc.pdf"]["pdf"]["page_count"] == 4
    assert got["http://x/doc.pdf"]["pdf"]["metadata"]["Title"] == "Memo"
    assert got["http://x/page.html"]["parsed"]["headings"][0]["text"] == "T"
    assert got["http://x/page.html"]["pdf"] is None


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Both sides bucketed+sorted on the join key with equal bucket
    counts: the join plans WITHOUT an Exchange — the write-once
    partitioning replaces every repeated join shuffle (the 100 TB
    layout for dedup/label/revalidate joins)."""
    from fingerprint_spark.sources.bucketed import colocated_join, write_bucketed

    docs = generate_corpus(spark, 300, partitions=4).select("url", "text")
    labels = docs.select("url", (F.length("text") % 7).alias("label"))
    write_bucketed(docs, "b_docs", "url", 8, path=str(tmp_path / "d"))
    write_bucketed(labels, "b_labels", "url", 8, path=str(tmp_path / "l"))
    # at test scale the planner prefers broadcast (which bypasses the
    # bucketed layout entirely); at 100 TB both sides are far beyond the
    # broadcast threshold and sort-merge is the natural plan — pin it so
    # the test exercises the at-scale shape
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "b_docs", "b_labels", "url")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == 300
        # control: the same join on UNbucketed frames does shuffle
        plain = docs.join(labels, "url")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_labels")


def test_manifest_reader_validation_ladder(spark, tmp_path):
    """hash.v0 manifest validation (reader.rs:59-178): good lines parse;
    invalid json / missing-unknown-mistyped version / missing bytes_hash
    (unless _skipped) / mistyped text_path are refused with the reference
    reasons; strict mode fail-fasts, lenient mode quarantines."""
    import json as _json

    from fingerprint_spark.sources.manifest import read_manifest

    good = {
        "version": "hash.v0", "path": "/x/a.html", "extension": ".html",
        "bytes_hash": "blake3:aa", "tool_versions": {"hash": "0.1.0"},
    }
    skipped = {"version": "hash.v0", "path": "/x/b.html", "_skipped": True}
    lines = [
        _json.dumps(good),
        "",
        _json.dumps(skipped),
        "{not json",
        _json.dumps({"path": "/x/c.html", "bytes_hash": "h"}),              # no version
        _json.dumps({"version": "hash.v9", "bytes_hash": "h"}),             # unknown
        _json.dumps({"version": 7, "bytes_hash": "h"}),                     # mistyped
        _json.dumps({"version": "hash.v0", "path": "/x/d.html"}),           # no bytes_hash
        _json.dumps({"version": "hash.v0", "bytes_hash": "h", "text_path": 3}),
    ]
    p = str(tmp_path / "manifest.jsonl")
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")

    out = read_manifest(spark, p, strict=False)
    rows = {r["line"]: r["refusal"] for r in out.collect()}
    assert rows[lines[0]] is None
    assert rows[lines[2]] is None                      # _skipped: bytes_hash waived
    assert rows["{not json"] == "E_BAD_INPUT:invalid_json"
    assert rows[lines[4]] == "E_BAD_INPUT:missing_field:version"
    assert rows[lines[5]] == "E_BAD_INPUT:unknown_version:hash.v9"
    assert rows[lines[6]] == "E_BAD_INPUT:invalid_field_type:version"
    assert rows[lines[7]] == "E_BAD_INPUT:missing_field:bytes_hash"
    assert rows[lines[8]] == "E_BAD_INPUT:invalid_field_type:text_path"

    with pytest.raises(ValueError, match="manifest validation failed"):
        read_manifest(spark, p, strict=True)

    ok_path = str(tmp_path / "ok.jsonl")
    with open(ok_path, "w") as f:
        f.write(_json.dumps(good) + "\n" + _json.dumps(skipped) + "\n")
    ok = read_manifest(spark, ok_path, strict=True)
    got = {r["path"]: r for r in ok.collect()}
    assert got["/x/a.html"]["bytes_hash"] == "blake3:aa"
    assert got["/x/b.html"]["skipped"] is True


def test_pdf_text_path_mechanism_and_e_no_text(spark):
    """pdf rows with a text column parse it as markdown (the text_path
    mechanism: content assertions run over pre-extracted text,
    mod.rs:83-86); pdf rows WITHOUT text refuse with E_NO_TEXT
    (assertions.rs:1744-1774) rather than crash or silently pass."""
    rows = [
        ("http://x/rpt.pdf", b"%PDF-fake", "# Findings\n\nRevenue grew."),
        ("http://x/scan.pdf", b"%PDF-fake", None),
        ("http://x/page.html", b"<html><body><h1>T</h1></body></html>", None),
    ]
    df = spark.createDataFrame(
        [(u, bytearray(c), t) for u, c, t in rows],
        "url string, html binary, text string",
    )
    out = parse_by_format(df, text_col="text")
    got = {r["url"]: r for r in out.collect()}
    pdf = got["http://x/rpt.pdf"]
    assert pdf["refusal"] is None
    assert pdf["parsed"]["headings"][0]["text"] == "Findings"
    # content assertion family over the text_path view
    env = {"parsed": F.col("parsed")}
    a = make_assertion("text_contains", "t", {"value": "Revenue grew."})
    ok = (
        out.filter(F.col("url") == "http://x/rpt.pdf")
        .select(compile_assertion(a, env).alias("r"))
        .first()["r"]
    )
    assert ok is True
    assert got["http://x/scan.pdf"]["refusal"] == "E_NO_TEXT"
    assert got["http://x/scan.pdf"]["parsed"] is None
    assert got["http://x/page.html"]["refusal"] is None


def test_manifest_text_path_sidecar_loading(spark, tmp_path):
    """text_path sidecar files load executor-side (mod.rs:83-86: pdf
    content assertions over pre-extracted markdown); a missing file is
    an E_TEXT_UNREADABLE row outcome, never a task failure."""
    import json as _json

    from fingerprint_spark.sources.manifest import load_text_paths, read_manifest

    side = tmp_path / "doc1.md"
    side.write_text("# Findings\n\nRevenue grew.")
    lines = [
        _json.dumps({"version": "hash.v0", "path": "/x/a.pdf",
                     "bytes_hash": "h", "text_path": str(side)}),
        _json.dumps({"version": "hash.v0", "path": "/x/b.pdf",
                     "bytes_hash": "h", "text_path": str(tmp_path / "missing.md")}),
        _json.dumps({"version": "hash.v0", "path": "/x/c.html",
                     "bytes_hash": "h"}),
    ]
    mp = str(tmp_path / "m.jsonl")
    with open(mp, "w") as f:
        f.write("\n".join(lines) + "\n")
    out = load_text_paths(read_manifest(spark, mp, strict=True))
    got = {r["path"]: r for r in out.collect()}
    assert got["/x/a.pdf"]["text"].startswith("# Findings")
    assert got["/x/a.pdf"]["text_refusal"] is None
    assert got["/x/b.pdf"]["text"] is None
    assert got["/x/b.pdf"]["text_refusal"].startswith("E_TEXT_UNREADABLE")
    assert got["/x/c.html"]["text"] is None and got["/x/c.html"]["text_refusal"] is None
