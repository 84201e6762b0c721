"""Source operators: xlsx grids and partitioned corpus IO."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.sources import read_corpus, xlsx_to_sheets
from helpers import write_corpus_partitioned


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


def test_xlsx_decode_accessors_on_real_bytes(spark):
    """Real xlsx bytes decoded in a Spark UDF (xlsx.rs:12-98 parity on
    actual file bytes, not synthetic grids), read through the sheet
    accessors of the xlsx_decode query; undecodable bytes give a NULL
    sheets map."""
    from fingerprint_spark.operators.assertions import _cell, sheet_exists
    from fingerprint_spark.sources.xlsx import make_xlsx, sheets_from_xlsx_col

    good = make_xlsx(
        {"Report": [["Item", "Qty"], ["widget", "3"], ["gizmo", "5"]]}
    )
    missing_sheet = make_xlsx({"Other": [["x"]]})
    rows = [("u1", bytearray(good)), ("u2", bytearray(missing_sheet)),
            ("u3", bytearray(b"garbage-not-xlsx"))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    sheets = sheets_from_xlsx_col(F.col("payload"))
    got = df.orderBy("url").select(
        sheets.isNull().alias("null_map"),
        sheet_exists(sheets, "report").alias("has_report"),
        _cell(sheets, "Report", "B2").alias("b2"),
        _cell(sheets, "Report", "A3").alias("a3"),
    ).collect()
    assert [tuple(r) for r in got] == [
        (False, True, "3", "gizmo"),
        (False, False, None, None),
        (True, None, None, None),
    ]


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
