"""Legacy .xls (BIFF8) byte codec — stdlib only.

Reference: src/document/xlsx.rs:12-21 — calamine's ``open_workbook_auto``
accepts BOTH .xlsx and legacy .xls; round 2 routed .xls bytes to the
zip codec, which refused them (E_PARSE). This module closes that gap
from the public specs:

- MS-CFB: the OLE2 compound-file container (512-byte sectors, FAT
  chains, miniFAT/ministream for streams under the 4096-byte cutoff,
  directory entries) -> the ``Workbook`` stream.
- BIFF8 (MS-XLS): workbook-globals substream (BOUNDSHEET sheet
  directory, SST shared strings incl. CONTINUE-record splits) and
  per-sheet substreams (LABELSST / LABEL / NUMBER / RK / MULRK /
  BOOLERR cells).
- BIFF5 (the 'Book' stream calamine also accepts): minimal read —
  ANSI BOUNDSHEET names + inline LABEL byte strings (decoded latin-1;
  CODEPAGE not honored — documented subset limit), numeric records
  shared with BIFF8. Encrypted workbooks are refused with a clear
  ValueError (the E_PARSE skip path).

Output shape = the engine's grid model (dict[sheet] -> dense row-major
grid of strings), identical to xlsx.py / csv — the whole spreadsheet
assertion family runs unchanged on .xls bytes.

The tests' ``make_xls`` (tests/helpers.py) writes a REAL minimal
CFB+BIFF8 workbook (ministream when small, FAT stream when large), so
tests feed genuine legacy bytes through the same reader a real corpus
would.
"""

from __future__ import annotations

import struct

CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE


# ---------------------------------------------------------------------------
# CFB container (MS-CFB)
# ---------------------------------------------------------------------------


def _read_chain(payload: bytes, fat: list[int], start: int, ssz: int) -> bytes:
    out = bytearray()
    sec = start
    seen = 0
    while sec != _ENDOFCHAIN and sec != _FREESECT:
        off = 512 + sec * ssz
        out += payload[off : off + ssz]
        if sec >= len(fat):
            raise ValueError("cfb: chain walks off the FAT")
        sec = fat[sec]
        seen += 1
        if seen > len(fat) + 1:
            raise ValueError("cfb: FAT chain cycle")
    return bytes(out)


def cfb_streams(payload: bytes) -> dict[str, bytes]:
    """CFB bytes -> {stream_name: stream_bytes} (top-level streams)."""
    if not payload.startswith(CFB_MAGIC):
        raise ValueError("not a compound file (bad magic)")
    if len(payload) < 512:
        raise ValueError("cfb: truncated header")
    ssz = 1 << struct.unpack("<H", payload[30:32])[0]
    mssz = 1 << struct.unpack("<H", payload[32:34])[0]
    n_fat = struct.unpack("<I", payload[44:48])[0]
    first_dir = struct.unpack("<I", payload[48:52])[0]
    mini_cutoff = struct.unpack("<I", payload[56:60])[0]
    first_minifat = struct.unpack("<I", payload[60:64])[0]
    n_minifat = struct.unpack("<I", payload[64:68])[0]
    first_difat = struct.unpack("<I", payload[68:72])[0]
    # DIFAT: 109 header entries + optional DIFAT sector chain
    difat = list(struct.unpack("<109I", payload[76:512]))
    sec = first_difat
    while sec not in (_ENDOFCHAIN, _FREESECT):
        off = 512 + sec * ssz
        ents = struct.unpack(f"<{ssz // 4}I", payload[off : off + ssz])
        difat.extend(ents[:-1])
        sec = ents[-1]
    fat: list[int] = []
    for s in difat[:n_fat]:
        if s in (_FREESECT, _ENDOFCHAIN):
            continue
        off = 512 + s * ssz
        fat.extend(struct.unpack(f"<{ssz // 4}I", payload[off : off + ssz]))

    directory = _read_chain(payload, fat, first_dir, ssz)
    entries = []
    for i in range(0, len(directory), 128):
        e = directory[i : i + 128]
        if len(e) < 128:
            break
        name_len = struct.unpack("<H", e[64:66])[0]
        if name_len == 0:
            continue
        name = e[: max(0, name_len - 2)].decode("utf-16le", "replace")
        otype = e[66]
        start = struct.unpack("<I", e[116:120])[0]
        size = struct.unpack("<Q", e[120:128])[0]
        entries.append((name, otype, start, size))

    root = next((e for e in entries if e[1] == 5), None)
    minifat: list[int] = []
    ministream = b""
    if root is not None and n_minifat and first_minifat not in (
        _ENDOFCHAIN, _FREESECT,
    ):
        mf = _read_chain(payload, fat, first_minifat, ssz)
        minifat = list(struct.unpack(f"<{len(mf) // 4}I", mf))
        ministream = _read_chain(payload, fat, root[2], ssz)

    streams: dict[str, bytes] = {}
    for name, otype, start, size in entries:
        if otype != 2:  # stream objects only
            continue
        if size < mini_cutoff and minifat:
            out = bytearray()
            sec = start
            seen = 0
            while sec not in (_ENDOFCHAIN, _FREESECT):
                out += ministream[sec * mssz : (sec + 1) * mssz]
                if sec >= len(minifat):
                    raise ValueError("cfb: mini chain walks off the miniFAT")
                sec = minifat[sec]
                seen += 1
                if seen > len(minifat) + 1:
                    raise ValueError("cfb: miniFAT chain cycle")
            streams[name] = bytes(out[:size])
        else:
            streams[name] = _read_chain(payload, fat, start, ssz)[:size]
    return streams


# ---------------------------------------------------------------------------
# BIFF8 records
# ---------------------------------------------------------------------------

_R_BOF = 0x0809
_R_EOF = 0x000A
_R_BOUNDSHEET = 0x0085
_R_SST = 0x00FC
_R_CONTINUE = 0x003C
_R_LABELSST = 0x00FD
_R_LABEL = 0x0204
_R_NUMBER = 0x0203
_R_RK = 0x027E
_R_MULRK = 0x00BD
_R_BOOLERR = 0x0205
_R_FILEPASS = 0x002F


def _records(stream: bytes):
    """Yield (record_id, offset_of_data, data)."""
    pos = 0
    n = len(stream)
    while pos + 4 <= n:
        rid, rlen = struct.unpack("<HH", stream[pos : pos + 4])
        data = stream[pos + 4 : pos + 4 + rlen]
        yield rid, pos, data
        pos += 4 + rlen


class _SSTCursor:
    """Reader over SST + CONTINUE payload chunks. BIFF8 strings may
    split at any chunk boundary; a split inside CHARACTER DATA restarts
    with a fresh option-flags byte on the next chunk."""

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.pos = 0

    def _remaining(self) -> int:
        return len(self.chunks[self.ci]) - self.pos

    def _advance_chunk(self) -> bool:
        if self.ci + 1 >= len(self.chunks):
            return False
        self.ci += 1
        self.pos = 0
        return True

    def read_raw(self, n: int) -> bytes:
        """n bytes of NON-character data (lengths/counts never restate
        flags across a boundary)."""
        out = bytearray()
        while n:
            if self._remaining() == 0 and not self._advance_chunk():
                raise ValueError("sst: truncated")
            take = min(n, self._remaining())
            c = self.chunks[self.ci]
            out += c[self.pos : self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def read_string(self) -> str:
        cch = struct.unpack("<H", self.read_raw(2))[0]
        flags = self.read_raw(1)[0]
        rich = (flags & 0x08) != 0
        ext = (flags & 0x04) != 0
        n_rich = struct.unpack("<H", self.read_raw(2))[0] if rich else 0
        n_ext = struct.unpack("<I", self.read_raw(4))[0] if ext else 0
        wide = (flags & 0x01) != 0
        out = []
        left = cch
        while left:
            if self._remaining() == 0:
                if not self._advance_chunk():
                    raise ValueError("sst: truncated string")
                # continuation restates the high-byte flag
                wide = (self.read_raw(1)[0] & 0x01) != 0
            avail = self._remaining()
            width = 2 if wide else 1
            take = min(left, avail // width)
            if take == 0:
                # a wide char split across the boundary: pull 2 raw bytes
                out.append(self.read_raw(2).decode("utf-16le", "replace"))
                left -= 1
                continue
            raw = self.chunks[self.ci][self.pos : self.pos + take * width]
            self.pos += take * width
            out.append(raw.decode("utf-16le" if wide else "latin-1", "replace"))
            left -= take
        if n_rich:
            self.read_raw(4 * n_rich)
        if n_ext:
            self.read_raw(n_ext)
        return "".join(out)


def _short_string(data: bytes, pos: int) -> str:
    """BIFF8 short unicode string (8-bit length) — BOUNDSHEET names."""
    cch = data[pos]
    wide = data[pos + 1] & 0x01
    raw = data[pos + 2 : pos + 2 + cch * (2 if wide else 1)]
    return raw.decode("utf-16le" if wide else "latin-1", "replace")


def _rk_value(rk: int) -> float:
    mul100 = rk & 0x01
    as_int = rk & 0x02
    if as_int:
        v = rk >> 2
        if v & 0x20000000:  # sign-extend 30 bits
            v -= 0x40000000
        val = float(v)
    else:
        val = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return val / 100.0 if mul100 else val


def _num_text(v: float) -> str:
    """Float -> verbatim-style text matching the xlsx codec's numbers."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def xls_to_sheets(payload: bytes) -> dict[str, list[list[str]]]:
    """Legacy .xls bytes -> {sheet_name: dense grid of strings}. BIFF8
    ('Workbook' stream, unicode SST) and minimal BIFF5 ('Book' stream:
    inline LABEL byte strings decoded latin-1 — the CODEPAGE record is
    not honored, a documented subset limit — plus the shared NUMBER/RK/
    MULRK/BOOLERR handlers; calamine reads BIFF5 too,
    src/document/xlsx.rs:12-21). Raises ValueError on non-CFB /
    encrypted input (E_PARSE path)."""
    streams = cfb_streams(payload)
    wb = streams.get("Workbook")
    biff5 = False
    if wb is None:
        wb = streams.get("Book")
        if wb is None:
            raise ValueError("not an xls (no Workbook stream)")
        biff5 = True

    # workbook-globals pass: sheet directory + shared strings
    bounds: list[tuple[int, str]] = []
    sst: list[str] = []
    sst_chunks: list[bytes] | None = None
    depth = 0
    for rid, _off, data in _records(wb):
        if sst_chunks is not None and rid != _R_CONTINUE:
            cur = _SSTCursor(sst_chunks)
            n_unique = struct.unpack("<I", cur.read_raw(4))[0]
            for _ in range(n_unique):
                sst.append(cur.read_string())
            sst_chunks = None
        if rid == _R_BOF:
            depth += 1
            if depth > 1:
                break  # first sheet substream reached
        elif rid == _R_EOF:
            depth -= 1
            if depth <= 0:
                break
        elif rid == _R_FILEPASS:
            raise ValueError("encrypted .xls not supported")
        elif rid == _R_BOUNDSHEET:
            pos = struct.unpack("<I", data[0:4])[0]
            if biff5:
                # BIFF5 name: cch(1) + ANSI bytes (no unicode flag)
                cch = data[6]
                name5 = data[7 : 7 + cch].decode("latin-1", "replace")
                bounds.append((pos, name5))
            else:
                bounds.append((pos, _short_string(data, 6)))
        elif rid == _R_SST:
            sst_chunks = [data[4:]]  # skip cstTotal; keep cstUnique+strings
            # cstUnique lives at data[4:8] — kept inside the cursor
        elif rid == _R_CONTINUE and sst_chunks is not None:
            sst_chunks.append(data)

    sheets: dict[str, list[list[str]]] = {}
    for pos, name in bounds:
        cells: dict[tuple[int, int], str] = {}
        max_r = max_c = -1

        def put(r: int, c: int, v: str):
            nonlocal max_r, max_c
            cells[(r, c)] = v
            max_r = max(max_r, r)
            max_c = max(max_c, c)

        for rid, _off, data in _records(wb[pos:]):
            if rid == _R_EOF:
                break
            if rid == _R_LABELSST:
                r, c, _xf, idx = struct.unpack("<HHHI", data[:10])
                if idx >= len(sst):
                    # corrupt workbook: surface E_PARSE (ValueError
                    # contract), never fabricate cell text from the index
                    raise ValueError(
                        f"xls: SST index {idx} out of range ({len(sst)})"
                    )
                put(r, c, sst[idx])
            elif rid == _R_LABEL:
                r, c = struct.unpack("<HH", data[:4])
                if biff5:
                    # BIFF5 inline string: cch(2) + ANSI bytes
                    (cch,) = struct.unpack("<H", data[6:8])
                    put(r, c, data[8 : 8 + cch].decode("latin-1", "replace"))
                else:
                    cur = _SSTCursor([data[6:]])
                    put(r, c, cur.read_string())
            elif rid == _R_NUMBER:
                r, c, _xf = struct.unpack("<HHH", data[:6])
                (v,) = struct.unpack("<d", data[6:14])
                put(r, c, _num_text(v))
            elif rid == _R_RK:
                r, c, _xf, rk = struct.unpack("<HHHI", data[:10])
                put(r, c, _num_text(_rk_value(rk)))
            elif rid == _R_MULRK:
                r, c0 = struct.unpack("<HH", data[:4])
                n = (len(data) - 6) // 6
                for i in range(n):
                    (rk,) = struct.unpack(
                        "<I", data[4 + 6 * i + 2 : 4 + 6 * i + 6]
                    )
                    put(r, c0 + i, _num_text(_rk_value(rk)))
            elif rid == _R_BOOLERR:
                r, c, _xf, v, is_err = struct.unpack("<HHHBB", data[:8])
                if not is_err:
                    put(r, c, "TRUE" if v else "FALSE")
        grid = (
            [
                [cells.get((r, c), "") for c in range(max_c + 1)]
                for r in range(max_r + 1)
            ]
            if max_r >= 0
            else []
        )
        sheets[name] = grid
    return sheets
