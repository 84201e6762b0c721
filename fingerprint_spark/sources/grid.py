"""Spreadsheet grid sources — csv text -> sheets map, xlsx stub.

Reference: src/document/csv.rs:6-85 (headers + eager rows, cell by
(row, header)) and the virtual sheet names a CSV answers to:
``Sheet1`` / ``csv`` / file-stem, case-insensitive
(assertions.rs:1474-1494).

The grid model is ``map<string, array<array<string>>>`` — the column the
whole spreadsheet assertion family (operators/assertions.py) evaluates
against. CSV parsing is pure JVM (split on lines/commas with a
quoted-field regex); XLSX bytes decode via the stdlib zip+XML reader in
``sources/xlsx.py`` (no spreadsheet library needed — see that module).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# split on commas not inside double quotes (classic lookahead-free form
# won't do — Java regex supports the lookahead below; oracle use is not
# needed for grids)
_CSV_SPLIT = r",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)"


def _parse_csv_rows(text: Column) -> Column:
    lines = F.filter(F.split(text, "\r?\n"), lambda ln: F.trim(ln) != "")
    return F.transform(
        lines,
        lambda ln: F.transform(
            F.split(ln, _CSV_SPLIT),
            lambda c: F.regexp_replace(F.trim(c), '^"|"$', ""),
        ),
    )


def csv_text_to_sheets(text: Column, stem: Column) -> Column:
    """csv text -> sheets map with the three virtual names
    (assertions.rs:1474-1494). All three keys point at the same grid."""
    grid = _parse_csv_rows(text)
    return F.map_from_arrays(
        F.array(F.lit("Sheet1"), F.lit("csv"), stem),
        F.array(grid, grid, grid),
    )


def sheets_from_csv_col(text: Column, url: Column) -> Column:
    stem = F.regexp_extract(url, r"([^/]+?)(\.[A-Za-z0-9]+)?$", 1)
    return csv_text_to_sheets(text, stem)


def xlsx_to_sheets(payload: bytes) -> dict[str, list[list[str]]]:
    """Real xlsx byte decode (stdlib zip+XML) — see sources/xlsx.py."""
    from .xlsx import xlsx_to_sheets as _impl

    return _impl(payload)
