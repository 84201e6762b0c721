"""PDF structural scan — page count + Info metadata.

Reference: src/document/pdf.rs:18-61 (lopdf page count; trailer Info
dict -> sorted key/value metadata; case-insensitive key lookup) plus the
text_path mechanism (pre-extracted markdown text evaluated with the
content assertion family, mod.rs:83-86).

The reference's actual structural surface (page count + Info dict —
it never renders page content) needs no PDF library; this module parses
it from raw bytes:

- ``parse_pdf_binary``: page count = /Type /Page leaf objects;
  metadata = the trailer's /Info dictionary (literal-string values,
  last trailer wins across incremental updates);
- ``pdf_struct_col``: builds the ``pdf`` struct the assertion family
  (page_count / metadata_regex) consumes — from the parse above or from
  ALREADY-EXTRACTED columns (a WARC sidecar), whichever the pipeline has;
- ``pdf_struct_from_binary_col``: Arrow-batched UDF binary -> pdf struct.
"""

from __future__ import annotations

import re

# module-level: pandas_udf resolves the 'pd.Series' type-hint strings in
# module globals
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def pdf_struct_col(page_count: Column, metadata: Column) -> Column:
    """(page_count int, metadata map<string,string>) — metadata keys kept
    verbatim; lookups are case-insensitive in the assertion
    (pdf.rs:50 sorts keys for determinism; map iteration here is keyed,
    never order-dependent)."""
    return F.struct(
        page_count.cast("int").alias("page_count"),
        metadata.alias("metadata"),
    )


# /Type /Page but not /Pages (\b: 's' is a word char) — the leaf page
# objects lopdf's get_pages() enumerates (pdf.rs:18-32)
_PAGE_RE = re.compile(rb"/Type\s*/Page\b")
_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+(\d+)\s+R")
# /Key (literal string) pairs inside the Info dict; PDF literal strings
# escape with backslash
_INFO_PAIR_RE = re.compile(rb"/(\w+)\s*\(((?:\\.|[^\\)])*)\)", re.S)
_STR_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_pdf_string(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i: i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1: i + 2]
            if nxt in _STR_ESCAPES:
                out += _STR_ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd (1-3 digits)
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j: j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1: j], 8) & 0xFF)
                i = j
                continue
            i += 1  # lone backslash: drop
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def parse_pdf_binary(payload: bytes) -> dict:
    """Raw-bytes structural parse: {'page_count': int, 'metadata':
    {key: value}} per src/document/pdf.rs:18-61. Raises ValueError on
    non-PDF bytes (callers map to the E_PARSE skip path)."""
    if not payload or not payload.lstrip()[:5].startswith(b"%PDF-"):
        raise ValueError("not a pdf (missing %PDF- header)")
    page_count = len(_PAGE_RE.findall(payload))
    metadata: dict[str, str] = {}
    # last /Info reference wins (incremental updates append trailers)
    refs = list(_INFO_REF_RE.finditer(payload))
    if refs:
        num = int(refs[-1].group(1))
        obj_re = re.compile(
            rb"(?:^|[^\d])" + str(num).encode() + rb"\s+\d+\s+obj(.*?)endobj",
            re.S,
        )
        objs = list(obj_re.finditer(payload))
        if objs:
            body = objs[-1].group(1)
            for m in _INFO_PAIR_RE.finditer(body):
                metadata[m.group(1).decode("latin-1")] = _unescape_pdf_string(
                    m.group(2)
                )
    return {"page_count": page_count, "metadata": metadata}


def pdf_struct_from_binary_col(payload: Column) -> Column:
    """binary pdf column -> (page_count, metadata) struct; null on
    undecodable bytes (E_PARSE skip analog). Arrow-batched."""
    from pyspark.sql import types as T

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("page_count", T.IntegerType()),
                T.StructField(
                    "metadata", T.MapType(T.StringType(), T.StringType())
                ),
            ]
        )
    )
    def udf(payloads: pd.Series) -> pd.DataFrame:
        rows = []
        for p in payloads:
            if p is None:
                rows.append({"page_count": None, "metadata": None})
                continue
            try:
                rows.append(parse_pdf_binary(bytes(p)))
            except ValueError:
                rows.append({"page_count": None, "metadata": None})
        return pd.DataFrame(rows)

    return udf(payload)
