"""Test-only fixture writers and output checkers.

Nothing in the package calls these: they build real input bytes for the
format readers (``make_xls``), write the day-partitioned
corpus the CLI reads (``write_corpus_partitioned``) and audit what a sink
wrote (``verify_shards``).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fingerprint_spark.sinks import _fold_shards, _manifest_path
from fingerprint_spark.sources.xls import (
    _ENDOFCHAIN,
    _FREESECT,
    _R_BOF,
    _R_BOUNDSHEET,
    _R_CONTINUE,
    _R_EOF,
    _R_LABEL,
    _R_LABELSST,
    _R_NUMBER,
    _R_SST,
    CFB_MAGIC,
)

# ---------------------------------------------------------------------------
# .xls: real CFB + BIFF5/BIFF8 bytes for sources/xls.py
# ---------------------------------------------------------------------------

_FATSECT = 0xFFFFFFFD


def _biff_rec(rid: int, data: bytes) -> bytes:
    return struct.pack("<HH", rid, len(data)) + data


def _biff_workbook(sheets: dict[str, list[list[str]]]) -> bytes:
    """Minimal BIFF8 Workbook stream: globals (BOUNDSHEETs + SST) then
    one substream per sheet with LABELSST / NUMBER cells."""
    strings: list[str] = []
    str_idx: dict[str, int] = {}

    def intern(s: str) -> int:
        if s not in str_idx:
            str_idx[s] = len(strings)
            strings.append(s)
        return str_idx[s]

    sheet_cells = []
    for grid in sheets.values():
        recs = bytearray()
        for r, row in enumerate(grid):
            for c, v in enumerate(row):
                if v == "":
                    continue
                try:
                    num = float(v)
                    is_num = v.strip() == v and v != ""
                except ValueError:
                    num, is_num = 0.0, False
                if is_num:
                    recs += _biff_rec(
                        _R_NUMBER, struct.pack("<HHHd", r, c, 15, num)
                    )
                else:
                    recs += _biff_rec(
                        _R_LABELSST,
                        struct.pack("<HHHI", r, c, 15, intern(v)),
                    )
        sheet_cells.append(bytes(recs))

    def uni(s: str) -> bytes:
        raw = s.encode("latin-1", "strict") if all(ord(ch) < 256 for ch in s) else None
        if raw is not None:
            return struct.pack("<HB", len(s), 0) + raw
        return struct.pack("<HB", len(s), 1) + s.encode("utf-16le")

    # real BIFF caps record payloads at 8224 bytes: split the string
    # table into SST + CONTINUE records at string boundaries (legal per
    # MS-XLS; also exercises the reader's continuation cursor)
    sst_parts: list[bytes] = []
    cur = bytearray(struct.pack("<II", len(strings), len(strings)))
    for s in strings:
        enc = uni(s)
        if len(cur) + len(enc) > 8000 and len(cur) > 8:
            sst_parts.append(bytes(cur))
            cur = bytearray()
        cur += enc
    sst_parts.append(bytes(cur))

    bof_globals = _biff_rec(
        _R_BOF, struct.pack("<HHHIII", 0x0600, 0x0005, 0x0DBB, 0, 0, 0)
    )
    bof_sheet = struct.pack("<HHHIII", 0x0600, 0x0010, 0x0DBB, 0, 0, 0)
    eof = _biff_rec(_R_EOF, b"")

    sst_recs = _biff_rec(_R_SST, sst_parts[0]) + b"".join(
        _biff_rec(_R_CONTINUE, p) for p in sst_parts[1:]
    )

    # layout: globals size depends on BOUNDSHEET positions -> fixed-point
    # (names are fixed-size, positions are u32 — one extra pass settles)
    names = list(sheets)
    bs_recs_len = sum(
        4 + 4 + 2 + 2 + len(n.encode("latin-1", "replace")) for n in names
    )
    globals_len = len(bof_globals) + bs_recs_len + len(sst_recs) + len(eof)
    positions = []
    pos = globals_len
    for cells in sheet_cells:
        positions.append(pos)
        pos += len(_biff_rec(_R_BOF, bof_sheet)) + len(cells) + len(eof)

    out = bytearray(bof_globals)
    for n, p in zip(names, positions):
        nm = n.encode("latin-1", "replace")
        out += _biff_rec(
            _R_BOUNDSHEET,
            struct.pack("<IHBB", p, 0, len(n), 0) + nm,
        )
    out += sst_recs
    out += eof
    for cells in sheet_cells:
        out += _biff_rec(_R_BOF, bof_sheet) + cells + eof
    return bytes(out)


def _biff_workbook5(sheets: dict[str, list[list[str]]]) -> bytes:
    """Minimal BIFF5 Book stream: globals (ANSI BOUNDSHEETs, no SST)
    then one substream per sheet with inline LABEL / NUMBER cells."""
    sheet_cells = []
    for grid in sheets.values():
        recs = bytearray()
        for r, row in enumerate(grid):
            for c, v in enumerate(row):
                if v == "":
                    continue
                try:
                    num = float(v)
                    is_num = v.strip() == v and v != ""
                except ValueError:
                    num, is_num = 0.0, False
                if is_num:
                    recs += _biff_rec(
                        _R_NUMBER, struct.pack("<HHHd", r, c, 15, num)
                    )
                else:
                    raw = v.encode("latin-1", "replace")
                    recs += _biff_rec(
                        _R_LABEL,
                        struct.pack("<HHHH", r, c, 15, len(raw)) + raw,
                    )
        sheet_cells.append(bytes(recs))

    bof_globals = _biff_rec(
        _R_BOF, struct.pack("<HHHH", 0x0500, 0x0005, 0x0DBB, 0x07CC)
    )
    bof_sheet = struct.pack("<HHHH", 0x0500, 0x0010, 0x0DBB, 0x07CC)
    eof = _biff_rec(_R_EOF, b"")

    names = list(sheets)
    bs_recs_len = sum(
        4 + 4 + 2 + 1 + len(n.encode("latin-1", "replace")) for n in names
    )
    globals_len = len(bof_globals) + bs_recs_len + len(eof)
    positions = []
    pos = globals_len
    for cells in sheet_cells:
        positions.append(pos)
        pos += len(_biff_rec(_R_BOF, bof_sheet)) + len(cells) + len(eof)

    out = bytearray(bof_globals)
    for n, p in zip(names, positions):
        nm = n.encode("latin-1", "replace")
        out += _biff_rec(
            _R_BOUNDSHEET,
            struct.pack("<IHB", p, 0, len(nm)) + nm,
        )
    out += eof
    for cells in sheet_cells:
        out += _biff_rec(_R_BOF, bof_sheet) + cells + eof
    return bytes(out)


def _dir_entry(name: str, otype: int, start: int, size: int,
               child: int = _FREESECT) -> bytes:
    raw = name.encode("utf-16le") + b"\x00\x00"
    e = bytearray(128)
    e[: len(raw)] = raw
    struct.pack_into("<H", e, 64, len(raw))
    e[66] = otype
    e[67] = 1  # black
    struct.pack_into("<III", e, 68, _FREESECT, _FREESECT, child)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<Q", e, 120, size)
    return bytes(e)


def make_xls(
    sheets: dict[str, list[list[str]]], biff5: bool = False
) -> bytes:
    """{name: grid} -> REAL .xls bytes: BIFF8 (or, with biff5=True,
    BIFF5 with inline ANSI LABELs in a 'Book' stream) inside a v3 CFB
    container (ministream when the workbook stream is under the 4096
    cutoff — the layout real small .xls files use)."""
    stream = _biff_workbook5(sheets) if biff5 else _biff_workbook(sheets)
    use_mini = len(stream) < 4096

    sectors: list[bytes] = []

    def pad512(b: bytes) -> list[bytes]:
        out = []
        for i in range(0, len(b), 512):
            out.append(b[i : i + 512].ljust(512, b"\x00"))
        return out or [b"\x00" * 512]

    fat: list[int] = []

    def add(chunks: list[bytes]) -> tuple[int, int]:
        """Append a chain; return (first_sector, last_sector)."""
        first = len(sectors)
        for j, ch in enumerate(chunks):
            sectors.append(ch)
            fat.append(len(sectors) if j < len(chunks) - 1 else _ENDOFCHAIN)
        return first, len(sectors) - 1

    # sector 0: the FAT itself
    sectors.append(b"")  # placeholder
    fat.append(_FATSECT)

    if use_mini:
        mini = stream.ljust((len(stream) + 63) & ~63, b"\x00")
        n_mini = len(mini) // 64
        minifat_entries = [
            i + 1 if i < n_mini - 1 else _ENDOFCHAIN for i in range(n_mini)
        ]
        mf_bytes = b"".join(struct.pack("<I", v) for v in minifat_entries)
        minifat_first, _ = add(pad512(mf_bytes))
        ministream_first, _ = add(pad512(mini))
        wb_start, wb_dirsize = 0, len(stream)  # mini-sector 0
        root_start, root_size = ministream_first, len(mini)
        n_minifat_sectors = (len(mf_bytes) + 511) // 512
    else:
        wb_start, _ = add(pad512(stream))
        wb_dirsize = len(stream)
        root_start, root_size = _ENDOFCHAIN, 0
        minifat_first, n_minifat_sectors = _ENDOFCHAIN, 0

    directory = (
        _dir_entry("Root Entry", 5, root_start, root_size, child=1)
        + _dir_entry("Book" if biff5 else "Workbook", 2, wb_start, wb_dirsize)
        + b"\x00" * 256
    )
    dir_first, _ = add(pad512(directory))

    # finalize FAT (one sector is plenty: <=128 entries)
    if len(fat) > 128:
        raise ValueError("fixture workbook too large for single-FAT writer")
    fat_bytes = b"".join(
        struct.pack("<I", v) for v in fat + [_FREESECT] * (128 - len(fat))
    )
    sectors[0] = fat_bytes

    header = bytearray(512)
    header[0:8] = CFB_MAGIC
    struct.pack_into("<H", header, 24, 0x003E)  # minor
    struct.pack_into("<H", header, 26, 0x0003)  # major v3
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, 9)       # 512-byte sectors
    struct.pack_into("<H", header, 32, 6)       # 64-byte mini sectors
    struct.pack_into("<I", header, 44, 1)       # one FAT sector
    struct.pack_into("<I", header, 48, dir_first)
    struct.pack_into("<I", header, 56, 4096)    # mini cutoff
    struct.pack_into("<I", header, 60, minifat_first)
    struct.pack_into("<I", header, 64, n_minifat_sectors)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no DIFAT chain
    struct.pack_into("<I", header, 72, 0)
    difat = [0] + [_FREESECT] * 108
    struct.pack_into("<109I", header, 76, *difat)
    return bytes(header) + b"".join(sectors)


# ---------------------------------------------------------------------------
# training shards: audit what sinks.write_training_shards wrote
# ---------------------------------------------------------------------------


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, p = _manifest_path(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def verify_shards(spark: SparkSession, path: str) -> dict:
    """Recompute per-shard counts + key folds and diff vs MANIFEST.json.
    Returns {ok, mismatched_shards, missing_shards, extra_shards}."""
    manifest = json.loads(_fs_read_text(spark, path))
    got = _fold_shards(spark, path, manifest["key_col"])["shards"]
    want = manifest["shards"]
    mismatched = sorted(
        s for s in want.keys() & got.keys() if want[s] != got[s]
    )
    return {
        "ok": want == got,
        "mismatched_shards": mismatched,
        "missing_shards": sorted(want.keys() - got.keys()),
        "extra_shards": sorted(got.keys() - want.keys()),
    }


# ---------------------------------------------------------------------------
# corpus: the day-partitioned layout sources.corpus_io.read_corpus scans
# ---------------------------------------------------------------------------


def write_corpus_partitioned(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Partition by warc day (the Iceberg partition-spec analog:
    days(warc_ts)); url-hash bucketing inside partitions happens at
    checkpoint time, not storage time."""
    (
        df.withColumn("warc_day", F.to_date("warc_ts"))
        .write.mode(mode)
        .partitionBy("warc_day")
        .parquet(path)
    )
