"""Legacy .xls (CFB + BIFF8) codec — real-byte tests.

The reference's calamine opens both .xlsx and legacy .xls
(src/document/xlsx.rs:12-21); so does the magic-byte detect of
sheets_from_xlsx_col. These tests feed REAL CFB+BIFF8 bytes
(helpers.make_xls writes a genuine container: ministream for small workbooks,
FAT chains for large, SST split into CONTINUE records) through the
same reader a real corpus would hit.
"""

import struct

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.sources.xls import _SSTCursor, cfb_streams, xls_to_sheets
from fingerprint_spark.sources.xlsx import excel_to_sheets, make_xlsx
from helpers import make_xls


def test_roundtrip_ministream():
    sheets = {
        "Data": [["id", "source"], ["1", "src1_0"], ["2.5", "naïve text"]],
        "Meta": [["k", "v"], ["rows", "3"]],
    }
    b = make_xls(sheets)
    assert b.startswith(b"\xd0\xcf\x11\xe0")
    assert xls_to_sheets(b) == sheets


def test_roundtrip_large_fat_stream_and_sst_continue():
    """>4096-byte workbook exercises the regular-FAT stream path; >8000
    bytes of unique strings forces SST + CONTINUE records."""
    big = {
        "Big": [
            [f"value_{r}_{c}_xxxxxxxxxx" for c in range(6)] for r in range(120)
        ]
    }
    g = xls_to_sheets(make_xls(big))
    assert g["Big"][0][0] == "value_0_0_xxxxxxxxxx"
    assert g["Big"][119][5] == "value_119_5_xxxxxxxxxx"
    assert len(g["Big"]) == 120


def test_wide_unicode_strings():
    sheets = {"W": [["日本語テキスト", "ascii"], ["mixé", "日本"]]}
    assert xls_to_sheets(make_xls(sheets)) == sheets


def test_sst_cursor_mid_string_continuation():
    """A string split INSIDE character data restarts with a fresh flags
    byte on the continuation chunk — including a compressed->wide
    switch (MS-XLS 2.5.293)."""
    head = struct.pack("<I", 1) + struct.pack("<HB", 6, 0) + b"ABC"
    for cont in (bytes([0]) + b"DEF", bytes([1]) + "DEF".encode("utf-16le")):
        cur = _SSTCursor([head, cont])
        assert struct.unpack("<I", cur.read_raw(4))[0] == 1
        assert cur.read_string() == "ABCDEF"


def test_garbage_refused():
    with pytest.raises(ValueError, match="not a compound file"):
        xls_to_sheets(b"PK\x03\x04 a zip, not cfb")
    with pytest.raises(ValueError, match="truncated"):
        xls_to_sheets(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1short")


def test_biff5_book_stream_reads():
    """r3 VERDICT #7: minimal BIFF5 ('Book' stream, inline ANSI LABEL
    strings, no SST) reads instead of refusing — the calamine
    open_workbook_auto surface (src/document/xlsx.rs:12-21)."""
    grid = {
        "Données": [["id", "naïve"], ["1", "café"], ["2.5", "x"]],
        "Meta": [["k", "v"]],
    }
    b = make_xls(grid, biff5=True)
    assert "Book" in cfb_streams(b) and "Workbook" not in cfb_streams(b)
    assert xls_to_sheets(b) == grid
    # NUMBER/RK handlers are shared with BIFF8; dispatch auto-detect
    # works off the same CFB magic
    assert excel_to_sheets(b) == grid


def test_excel_auto_detect_both_formats():
    grid = {"Data": [["a", "b"], ["1", "two"]]}
    assert excel_to_sheets(make_xls(grid)) == grid
    assert excel_to_sheets(make_xlsx(grid)) == grid
    with pytest.raises(ValueError, match="neither"):
        excel_to_sheets(b"%PDF-1.4 nope")


def test_dispatch_xls_end_to_end(spark):
    """.xls rows through sheets_from_xlsx_col's magic-byte dispatch: the same
    grid surface the assertion family reads from xlsx — and broken
    bytes stay a null-sheets row (E_PARSE path), never a task failure."""
    from fingerprint_spark.operators.assertions import _cell, sheet_exists
    from fingerprint_spark.sources.xlsx import sheets_from_xlsx_col

    good = make_xls({"Data": [["id", "val"], ["7", "seven"]]})
    rows = [
        ("https://x.test/a.xls", bytearray(good)),
        ("https://x.test/b.xls", bytearray(b"\xd0\xcf\x11\xe0 broken")),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = df.withColumn("sheets", sheets_from_xlsx_col(F.col("html")))
    got = {r["url"]: r for r in out.select(
        "url",
        sheet_exists(F.col("sheets"), "data").alias("has"),
        _cell(F.col("sheets"), "Data", "B2").alias("b2"),
    ).collect()}
    a = got["https://x.test/a.xls"]
    assert a["has"] is True and a["b2"] == "seven"
    b = got["https://x.test/b.xls"]
    assert b["has"] is not True and b["b2"] is None  # null sheets row


def test_sst_index_out_of_range_raises():
    """ADVICE r3: a LABELSST pointing past the SST is a corrupt
    workbook -> ValueError (E_PARSE path), never str(idx) as cell
    text."""
    b = make_xls({"S": [["onlycell"]]})
    # the single cell is LABELSST (r=0,c=0,xf=15,idx=0); bump idx to 999
    rec = struct.pack("<HH", 0x00FD, 10) + struct.pack("<HHHI", 0, 0, 15, 0)
    bad = struct.pack("<HH", 0x00FD, 10) + struct.pack("<HHHI", 0, 0, 15, 999)
    assert rec in b
    with pytest.raises(ValueError, match="SST index"):
        xls_to_sheets(b.replace(rec, bad))
