"""Real XLSX byte codec — stdlib only (zipfile + ElementTree).

Reference: src/document/xlsx.rs:12-98 (calamine workbook open, sheet
list, cell-by-A1/range access, row counts). An .xlsx file is a zip of
XML parts; the structural surface the assertion family needs — sheet
names, cell values, grid shape — requires no spreadsheet library:

- ``xl/workbook.xml``            sheet names + relationship ids
- ``xl/_rels/workbook.xml.rels`` rId -> worksheet part path
- ``xl/sharedStrings.xml``       shared-string table (t="s" cells)
- ``xl/worksheets/sheetN.xml``   <row r="..."><c r="A1" t="..."><v>

Supported cell types: shared strings (t="s"), inline strings
(t="inlineStr", rich-text runs concatenated), formula/plain strings
(t="str"), booleans (t="b" -> "TRUE"/"FALSE"), and numbers (verbatim
<v> text). Date serial numbers are surfaced verbatim (no date-system
conversion) — the typing assertions treat them as numbers, same as the
reference's raw-value path.

Output shape = the engine's grid model: dict[sheet_name] ->
list[list[str]] dense row-major grid ("" for absent cells); as a Column
(sheets_from_xlsx_col) it is ``map<string, array<array<string>>>``, the
column the whole spreadsheet assertion family (operators/assertions.py)
evaluates against.

``make_xlsx`` (the fixture writer used in tests) emits a minimal valid
workbook with inline strings and a byte-deterministic zip (fixed
timestamps, no compression jitter).
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape, quoteattr

# module-level: pandas_udf resolves the 'pd.Series' type-hint strings in
# module globals
import pandas as pd

_A1_CELL_RE = re.compile(r"^([A-Za-z]+)([0-9]+)$")


def _col_to_idx(letters: str) -> int:
    col = 0
    for ch in letters.upper():
        col = col * 26 + (ord(ch) - 64)
    return col - 1


def _local(tag: str) -> str:
    """Namespace-agnostic local name ('{ns}c' -> 'c')."""
    return tag.rsplit("}", 1)[-1]


def _text_of(elem) -> str:
    """Concatenated text of an element tree (rich-text <r> runs)."""
    return "".join(elem.itertext())


def _parse_shared_strings(data: bytes) -> list[str]:
    root = ET.fromstring(data)
    out = []
    for si in root:
        if _local(si.tag) == "si":
            out.append(_text_of(si))
    return out


def _parse_sheet(data: bytes, shared: list[str]) -> list[list[str]]:
    """One worksheet XML -> dense row-major grid of strings."""
    root = ET.fromstring(data)
    cells: dict[tuple[int, int], str] = {}
    max_r = max_c = -1
    row_num = 0
    for row in root.iter():
        if _local(row.tag) != "row":
            continue
        row_num = int(row.get("r", row_num + 1))
        col_num = 0
        for c in row:
            if _local(c.tag) != "c":
                continue
            ref = c.get("r")
            if ref:
                m = _A1_CELL_RE.match(ref)
                ci = _col_to_idx(m.group(1)) if m else col_num
            else:
                ci = col_num
            col_num = ci + 1
            ctype = c.get("t", "n")
            v = None
            for child in c:
                name = _local(child.tag)
                if name == "v":
                    v = child.text or ""
                elif name == "is":  # inlineStr
                    v = _text_of(child)
            if v is None:
                continue
            if ctype == "s":
                try:
                    v = shared[int(v)]
                except (ValueError, IndexError):
                    pass  # keep raw index text on malformed tables
            elif ctype == "b":
                v = "TRUE" if v.strip() == "1" else "FALSE"
            ri = row_num - 1
            cells[(ri, ci)] = v
            max_r = max(max_r, ri)
            max_c = max(max_c, ci)
    if max_r < 0:
        return []
    return [
        [cells.get((r, c), "") for c in range(max_c + 1)]
        for r in range(max_r + 1)
    ]


def xlsx_to_sheets(payload: bytes) -> dict[str, list[list[str]]]:
    """xlsx bytes -> {sheet_name: grid} (xlsx.rs:12-45 sheet open +
    eager rows). Raises ValueError on non-zip / structurally missing
    workbook — callers map that to the E_PARSE skip path."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as e:
        raise ValueError(f"not an xlsx (bad zip): {e}") from None
    with zf:
        names = set(zf.namelist())
        if "xl/workbook.xml" not in names:
            raise ValueError("not an xlsx (no xl/workbook.xml)")
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            shared = _parse_shared_strings(zf.read("xl/sharedStrings.xml"))
        # rId -> part path
        rels: dict[str, str] = {}
        if "xl/_rels/workbook.xml.rels" in names:
            for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")):
                rid = rel.get("Id")
                target = rel.get("Target", "")
                if rid and target:
                    rels[rid] = (
                        target if target.startswith("/") else "xl/" + target
                    ).lstrip("/")
        sheets: dict[str, list[list[str]]] = {}
        fallback = sorted(
            n for n in names if re.match(r"xl/worksheets/sheet\d+\.xml$", n)
        )
        idx = 0
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        for el in wb.iter():
            if _local(el.tag) != "sheet":
                continue
            name = el.get("name") or f"Sheet{idx + 1}"
            rid = next(
                (v for k, v in el.attrib.items() if _local(k) == "id"), None
            )
            part = rels.get(rid) if rid else None
            if part is None and idx < len(fallback):
                part = fallback[idx]
            idx += 1
            if part and part in names:
                sheets[name] = _parse_sheet(zf.read(part), shared)
        return sheets


# ---------------------------------------------------------------------------
# fixture writer (tests) — minimal valid workbook, deterministic bytes
# ---------------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    "{sheet_overrides}"
    "</Types>"
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)


def _cell_xml(ref: str, value: str) -> str:
    """Numbers as native number cells, everything else inline strings."""
    if re.match(r"^-?\d+(\.\d+)?$", value):
        return f'<c r="{ref}"><v>{value}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(value)}</t></is></c>'


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def make_xlsx(sheets: dict[str, list[list[str]]]) -> bytes:
    """Minimal workbook from {name: grid} — deterministic bytes."""
    sheet_xml = {}
    wb_sheets = []
    wb_rels = []
    overrides = []
    for i, (name, grid) in enumerate(sheets.items(), start=1):
        rows = []
        for r, row in enumerate(grid, start=1):
            cells = "".join(
                _cell_xml(f"{_col_letters(c)}{r}", v)
                for c, v in enumerate(row)
                if v != ""
            )
            rows.append(f'<row r="{r}">{cells}</row>')
        sheet_xml[f"xl/worksheets/sheet{i}.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{''.join(rows)}</sheetData></worksheet>"
        )
        wb_sheets.append(
            f"<sheet name={quoteattr(name)} sheetId=\"{i}\" r:id=\"rId{i}\"/>"
        )
        wb_rels.append(
            f'<Relationship Id="rId{i}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>'
        )
        overrides.append(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{''.join(wb_sheets)}</sheets></workbook>"
    )
    wb_rels_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f"{''.join(wb_rels)}</Relationships>"
    )
    parts = {
        "[Content_Types].xml": _CONTENT_TYPES.format(
            sheet_overrides="".join(overrides)
        ),
        "_rels/.rels": _ROOT_RELS,
        "xl/workbook.xml": workbook,
        "xl/_rels/workbook.xml.rels": wb_rels_xml,
        **sheet_xml,
    }
    buf = io.BytesIO()
    # compresslevel=1: fixture bytes stay deterministic; measured ~2x
    # faster workbook synthesis in the xlsx roundtrip query
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for name in sorted(parts):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, parts[name])
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def excel_to_sheets(payload: bytes) -> dict[str, list[list[str]]]:
    """Magic-byte auto-detect (the calamine ``open_workbook_auto``
    surface, xlsx.rs:12-21): zip 'PK' -> xlsx codec, CFB D0CF11E0 ->
    legacy BIFF8 .xls codec (sources/xls.py). ValueError otherwise."""
    if payload[:2] == b"PK":
        return xlsx_to_sheets(payload)
    from .xls import CFB_MAGIC, xls_to_sheets

    if payload[: len(CFB_MAGIC)] == CFB_MAGIC:
        return xls_to_sheets(payload)
    raise ValueError("not a spreadsheet (neither zip/xlsx nor CFB/xls magic)")


def sheets_from_xlsx_col(payload):
    """binary xlsx/xls column -> sheets map<string, array<array<string>>>
    (auto-detected by magic; null on undecodable bytes — the E_PARSE
    skip analog, never a task failure). Arrow-batched pandas UDF; decode
    is per-document Python by nature, everything downstream is Column
    expressions."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(
        T.MapType(T.StringType(), T.ArrayType(T.ArrayType(T.StringType())))
    )
    def udf(payloads: pd.Series) -> pd.Series:
        out = []
        for p in payloads:
            if p is None:
                out.append(None)
                continue
            try:
                out.append(excel_to_sheets(bytes(p)))
            except ValueError:
                out.append(None)
        return pd.Series(out)

    return udf(payload)
