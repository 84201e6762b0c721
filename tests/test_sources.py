"""Source operators: xlsx grids, the PDF struct the assertions read,
partitioned corpus IO."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.dsl.compiler import compile_assertion
from fingerprint_spark.dsl.model import make_assertion
from fingerprint_spark.sources import read_corpus, xlsx_to_sheets
from helpers import write_corpus_partitioned


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


def test_pdf_assertions_on_literal_struct(spark):
    """page_count / metadata_regex over the pdf struct (pdf.rs:18-61: page
    count + trailer Info); a null struct, the undecodable-bytes row,
    fails both."""
    df = spark.createDataFrame(
        [("u1", (12, {"Title": "Annual Report 2024"})),
         ("u2", (3, {"Title": "memo"})),
         ("u3", None)],
        "url string, pdf struct<page_count:int, metadata:map<string,string>>",
    )
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
