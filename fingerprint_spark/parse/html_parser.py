"""HTML structural parse + byte-stable text normalization (pure Python).

Reimplements the *semantics* of the reference HTML scan
(``/root/reference/src/document/html.rs:73-740``) as block handlers on
the stdlib event parser's interface, driven by a single-pass scanner
(``_scan``) that gives them the events ``HTMLParser`` would
(``parse_html_stdlib``, the reference twin, drives them with
``HTMLParser`` itself). This module is pure Python by design: it runs
ONLY inside Arrow-batched pandas UDFs (see ``fingerprint_spark.parse``),
one call per document, many documents per Arrow batch.

Normalization rules replicated byte-for-byte (the "byte-identical
extracted text per url" invariant):

- NBSP -> space, en-dash/em-dash -> space, collapse internal whitespace,
  drop empty lines                     (reference html.rs:353-363, 371-388)
- script/style/head/meta/link/title/noscript ignored  (html.rs:183-189)
- <br> -> newline; closing p/div/li append newline    (html.rs:293-321)
- colspan/rowspan expansion with carry-down of spanning values
                                                      (html.rs:454-558)
- header-row detection: first row containing a <th>, else first non-empty
  non-separator row within the first 3 rows, else row 0 (html.rs:529-542)
- page attribution from <section data-page-number>     (html.rs:94-181)
- sections extend to the next heading of equal-or-lesser depth; content
  before the first heading is a preamble with heading=None
  (markdown.rs:208-267, docs/PLAN.md:801-807)
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

_IGNORED_TAGS = frozenset(
    ["script", "style", "head", "meta", "link", "title", "noscript"]
)
_HEADING_TAGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])
# void elements never pushed on the open stack
_VOID_TAGS = frozenset(
    ["br", "hr", "img", "input", "area", "base", "col", "embed",
     "source", "track", "wbr", "meta", "link"]
)
_WS_RE = re.compile(r"[ \t\r\f\v –—]+")
_SEP_CELL_RE = re.compile(r"^[-:\s|]+$")
# a block-level START tag implies the close of an open heading — real
# HTML allows unclosed h*/p/tr/td (browsers imply closure); the reference
# fixture suite expects malformed pages to DEGRADE, not vanish
_IMPLIED_HEADING_CLOSE = frozenset(
    ["p", "div", "table", "section", "ul", "ol", "li", "blockquote",
     "pre", "tr", "hr"] + list(_HEADING_TAGS)
)
# _scan's own tokens, read exactly as html.parser reads them: a start tag
# with no attributes (its tagfind_tolerant name directly followed by >),
# an end tag (its endtagfind), and the test for a start tag at all
# (its starttagopen)
_PLAIN_START = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)>")
_PLAIN_END = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_START_OPEN = re.compile("<[a-zA-Z]")
_RAW_TEXT = frozenset(HTMLParser.CDATA_CONTENT_ELEMENTS)


def normalize_ws(s: str) -> str:
    """NBSP/en-dash/em-dash -> space, collapse runs, strip (html.rs:353-363)."""
    return _WS_RE.sub(" ", s).strip()


class _StructParser(HTMLParser):
    """Event-driven block builder: emits heading / text / table blocks in
    document order, each tagged with the enclosing page number."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple] = []  # ("heading",lvl,text,page)|("text",lines,page)|("table",headers,rows,page)
        self._skip_depth = 0
        self._page_stack: list[int | None] = []
        self._page_sections = 0
        self._heading: list[str] | None = None
        self._heading_level = 0
        self._text_buf: list[str] = []
        # table state: one frame per open <table> so NESTED tables parse
        # independently instead of an inner <tr> clobbering the outer
        # row in flight. Each frame: [rows, cur_row, cell, cell_attrs].
        self._t_stack: list[list] = []

    # -- helpers ---------------------------------------------------------
    def _page(self) -> int | None:
        for p in reversed(self._page_stack):
            if p is not None:
                return p
        return None

    def _flush_text(self) -> None:
        if not self._text_buf:
            return
        raw = "".join(self._text_buf)
        self._text_buf = []
        lines = [normalize_ws(ln) for ln in raw.split("\n")]
        lines = [ln for ln in lines if ln]
        if lines:
            self.blocks.append(("text", lines, self._page()))

    def _close_heading(self) -> None:
        if self._heading is None:
            return
        text = normalize_ws("".join(self._heading))
        if text:
            self.blocks.append(
                ("heading", self._heading_level, text, self._page())
            )
        self._heading = None

    # -- table-state repairs (implied closes on malformed input) ---------
    def _t_close_cell(self, top) -> None:
        if top[2] is None:
            return
        colspan, rowspan, is_th = top[3]
        if top[1] is None:
            top[1] = []
        top[1].append((normalize_ws("".join(top[2])), colspan, rowspan, is_th))
        top[2] = None

    def _t_close_row(self, top) -> None:
        self._t_close_cell(top)
        if top[1] is not None:
            top[0].append(top[1])
            top[1] = None

    def _t_emit(self, top) -> None:
        self._t_close_row(top)
        headers, rows = _expand_table(top[0])
        if headers or rows:
            self.blocks.append(("table", headers, rows, self._page()))

    # -- parser events ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _IGNORED_TAGS:
            if tag not in _VOID_TAGS:
                self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if self._heading is not None and tag in _IMPLIED_HEADING_CLOSE:
            self._close_heading()  # unclosed <h*> ends at the next block
        if tag == "br":
            if self._t_stack and self._t_stack[-1][2] is not None:
                self._t_stack[-1][2].append(" ")
            else:
                self._text_buf.append("\n")
            return
        if tag == "section":
            page = None
            for k, v in attrs:
                if k == "data-page-number" and v is not None:
                    try:
                        page = int(v)
                        self._page_sections += 1
                    except ValueError:
                        page = None
                    break
            self._page_stack.append(page)
            return
        if tag in _HEADING_TAGS:
            self._flush_text()
            self._heading = []
            self._heading_level = int(tag[1])
            return
        if tag == "table":
            if not self._t_stack:
                self._flush_text()
            self._t_stack.append([[], None, None, (1, 1, False)])
            return
        if self._t_stack:
            top = self._t_stack[-1]
            if tag == "tr":
                self._t_close_row(top)  # implied </tr> (valid HTML)
                top[1] = []
            elif tag in ("td", "th"):
                self._t_close_cell(top)  # implied </td> (valid HTML)
                colspan = rowspan = 1
                for k, v in attrs:
                    if k == "colspan" and v and v.isdigit():
                        colspan = max(1, int(v))
                    elif k == "rowspan" and v and v.isdigit():
                        rowspan = max(1, int(v))
                top[2] = []
                top[3] = (colspan, rowspan, tag == "th")
            return
        if tag in ("p", "div", "li", "tr", "ul", "ol", "blockquote", "pre"):
            self._text_buf.append("\n")

    def handle_endtag(self, tag):
        if tag in _IGNORED_TAGS:
            if tag not in _VOID_TAGS and self._skip_depth:
                self._skip_depth -= 1
            return
        if self._skip_depth:
            return
        if tag == "section":
            if self._page_stack:
                self._page_stack.pop()
            return
        if tag in _HEADING_TAGS and self._heading is not None:
            self._close_heading()
            return
        if self._t_stack:
            top = self._t_stack[-1]
            if tag in ("td", "th") and top[2] is not None:
                colspan, rowspan, is_th = top[3]
                if top[1] is None:
                    top[1] = []
                top[1].append(
                    (normalize_ws("".join(top[2])), colspan, rowspan, is_th)
                )
                top[2] = None
                return
            if tag == "tr" and top[1] is not None:
                top[0].append(top[1])
                top[1] = None
                return
            if tag == "table":
                # each table emits its own block at its close (inner
                # tables therefore appear before their enclosing table);
                # open cell/row are committed first (implied closes)
                self._t_stack.pop()
                self._t_emit(top)
                return
            return
        if tag in ("p", "div", "li"):
            self._text_buf.append("\n")

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._t_stack:
            cell = self._t_stack[-1][2]
            if cell is not None:
                cell.append(data)
            return  # else: inter-cell whitespace inside table markup
        if self._heading is not None:
            self._heading.append(data)
            return
        self._text_buf.append(data)

    def close(self):
        super().close()
        self.finish()

    def finish(self) -> None:
        """EOF with unbalanced structures: emit what was collected."""
        self._close_heading()
        while self._t_stack:
            self._t_emit(self._t_stack.pop())
        self._flush_text()


def _scan(p: _StructParser, s: str) -> None:
    """Drive ``p``'s handlers over the whole document ``s`` in one pass,
    with the events ``p.feed(s); p.close()`` gives them.

    Text runs are found with ``str.find`` and decoded whole, as
    ``convert_charrefs`` does. Plain ``<name>`` and ``</name>`` tags are
    read by one pattern each. Everything else (attributes, comments,
    ``<!``, ``<?``, a bare ``<``, a raw-text element's close) goes to the
    stdlib's own ``parse_*`` methods on the same buffer. Unlike
    ``goahead`` it keeps no line counts and never stops to wait for more
    input: markup unterminated at EOF becomes text, as ``close()`` makes
    it."""
    p.rawdata = s  # the stdlib parse_* methods read the buffer here
    n = len(s)
    find = s.find
    data, start, end = p.handle_data, p.handle_starttag, p.handle_endtag
    plain_start, plain_end = _PLAIN_START.match, _PLAIN_END.match
    i = 0
    while i < n:
        if p.cdata_elem is not None:
            # raw text up to </\s*script\s*> in any case (or style);
            # parse_endtag keeps the mode on a close tag for another
            # element. Text of an element still open at EOF is dropped
            m = p.interesting.search(s, i)
            if m is None:
                break
            j = m.start()
            if i < j:
                data(s[i:j])
            i = p.parse_endtag(j)
            continue
        j = find("<", i)
        if j < 0:
            j = n
        if i < j:
            data(unescape(s[i:j]))
            i = j
            if i == n:
                break
        m = plain_start(s, i)
        if m is not None:
            tag = m.group(1).lower()
            start(tag, [])
            if tag in _RAW_TEXT:
                p.set_cdata_mode(tag)
            i = m.end()
            continue
        m = plain_end(s, i)
        if m is not None:
            end(m.group(1).lower())
            i = m.end()
            continue
        nxt = s[i + 1:i + 2]
        if _START_OPEN.match(s, i):
            k = p.parse_starttag(i)
        elif nxt == "/":
            k = p.parse_endtag(i)
        elif nxt == "!":
            k = p.parse_html_declaration(i)
        elif nxt == "?":
            k = p.parse_pi(i)
        elif nxt:
            data("<")
            k = i + 1
        else:
            break  # a "<" that ends the document: text, below
        if k < 0:
            # markup unterminated at EOF reads as text up to the next
            # ">" (or "<"), as close() hands it over
            k = find(">", i + 1)
            if k < 0:
                k = find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            data(unescape(s[i:k]))
        i = k
    if i < n and p.cdata_elem is None:
        data(unescape(s[i:]))
    p.finish()


def _expand_table(
    raw_rows: list[list[tuple[str, int, int, bool]]],
) -> tuple[list[str], list[list[str]]]:
    """colspan/rowspan grid expansion + header-row detection.

    Spanning values are carried down/right (html.rs:454-558). Header row:
    first row containing a <th>; else first non-empty non-separator row in
    the first 3 rows; else row 0 (html.rs:529-542).
    """
    if not raw_rows:
        return [], []
    grid: list[list[str]] = []
    row_has_th: list[bool] = []
    pending: dict[int, tuple[str, int]] = {}  # col -> (value, remaining rows)
    for raw in raw_rows:
        row: list[str] = []
        col = 0
        cells = iter(raw)
        has_th = any(c[3] for c in raw)
        cur = next(cells, None)
        while cur is not None or any(r > 0 for _, r in pending.values()):
            if col in pending and pending[col][1] > 0:
                val, rem = pending[col]
                row.append(val)
                pending[col] = (val, rem - 1) if rem - 1 > 0 else (val, 0)
                if pending[col][1] == 0:
                    del pending[col]
                col += 1
                continue
            if cur is None:
                # only pending carry-downs beyond current cells
                remaining = [c for c in pending if c >= col and pending[c][1] > 0]
                if not remaining:
                    break
                nxt = min(remaining)
                while col < nxt:
                    row.append("")
                    col += 1
                continue
            text, colspan, rowspan, _ = cur
            for _ in range(colspan):
                row.append(text)
                if rowspan > 1:
                    pending[col] = (text, rowspan - 1)
                col += 1
            cur = next(cells, None)
        grid.append(row)
        row_has_th.append(has_th)

    width = max((len(r) for r in grid), default=0)
    grid = [r + [""] * (width - len(r)) for r in grid]

    header_idx = None
    for i, has_th in enumerate(row_has_th):
        if has_th:
            header_idx = i
            break
    if header_idx is None:
        for i, r in enumerate(grid[:3]):
            joined = "".join(r).strip()
            if joined and not all(_SEP_CELL_RE.match(c) for c in r if c):
                header_idx = i
                break
    if header_idx is None:
        header_idx = 0
    headers = grid[header_idx] if grid else []
    rows = [r for i, r in enumerate(grid) if i != header_idx]
    return headers, rows


def _render_table_lines(headers: list[str], rows: list[list[str]]) -> list[str]:
    """Deterministic text materialization of a table into normalized lines."""
    out = []
    if headers:
        out.append(" | ".join(headers))
    for r in rows:
        out.append(" | ".join(r))
    return out


def _build_sections(
    lines: list[str],
    headings: list[dict],
) -> list[dict]:
    """Sections extend to the next heading of equal-or-lesser depth
    (markdown.rs:208-267); preamble before the first heading has
    heading=None."""
    n = len(lines)
    sections: list[dict] = []
    if not headings:
        if n:
            body = [ln for ln in lines if ln.strip()]
            sections.append(
                {
                    "heading": None, "level": None,
                    "start_line": 1, "end_line": n,
                    "body_lines": len(body), "page": None,
                }
            )
        return sections
    first = headings[0]["line"]
    if first > 1:
        pre = lines[: first - 1]
        sections.append(
            {
                "heading": None, "level": None,
                "start_line": 1, "end_line": first - 1,
                "body_lines": sum(1 for ln in pre if ln.strip()),
                "page": None,
            }
        )
    for i, h in enumerate(headings):
        end = n
        for nxt in headings[i + 1:]:
            if nxt["level"] <= h["level"]:
                end = nxt["line"] - 1
                break
        body = lines[h["line"]: end]  # heading line excluded from body
        sections.append(
            {
                "heading": h["text"], "level": h["level"],
                "start_line": h["line"], "end_line": end,
                "body_lines": sum(1 for ln in body if ln.strip()),
                "page": h.get("page"),
            }
        )
    return sections


def parse_html(html: str) -> dict:
    """Full structural parse -> plain dict matching schema.PARSED_TYPE."""
    p = _StructParser()
    try:
        _scan(p, html)
    except Exception as e:  # parse failure -> skip analog, never fatal
        return _parse_failure(e)
    return _parsed(p)


def parse_html_stdlib(html: str) -> dict:
    """Reference twin of parse_html: the same block handlers, driven by
    html.parser's own ``feed`` + ``close`` instead of ``_scan``."""
    p = _StructParser()
    try:
        p.feed(html)
        p.close()
    except Exception as e:
        return _parse_failure(e)
    return _parsed(p)


def _parse_failure(e: Exception) -> dict:
    return {
        "normalized": None, "headings": None, "sections": None,
        "tables": None, "page_sections": None,
        "parse_error": f"E_PARSE: {type(e).__name__}: {e}",
    }


def _parsed(p: _StructParser) -> dict:
    """The parse dict of a parser that has seen the whole document."""
    lines: list[str] = []
    headings: list[dict] = []
    tables: list[dict] = []
    last_heading_text: str | None = None
    for blk in p.blocks:
        kind = blk[0]
        if kind == "heading":
            _, level, text, page = blk
            lines.append(text)
            headings.append(
                {"level": level, "text": text, "line": len(lines), "page": page}
            )
            last_heading_text = text
        elif kind == "text":
            _, blines, _page = blk
            lines.extend(blines)
        else:  # table
            _, headers, rows, page = blk
            tlines = _render_table_lines(headers, rows)
            start = len(lines) + 1
            lines.extend(tlines)
            tables.append(
                {
                    "heading_ref": last_heading_text,
                    "index": len(tables),
                    "start_line": start,
                    "end_line": len(lines),
                    "page": page,
                    "headers": headers,
                    "rows": rows,
                }
            )

    sections = _build_sections(lines, headings)
    return {
        "normalized": "\n".join(lines),
        "headings": [
            {"level": h["level"], "text": h["text"], "line": h["line"]}
            for h in headings
        ],
        "sections": sections,
        "tables": tables,
        "page_sections": p._page_sections,
        "parse_error": None,
    }
