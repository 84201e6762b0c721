"""Markdown normalization + structure parse (pure Python, UDF-batched).

Reimplements the semantics of ``/root/reference/src/document/markdown.rs``
(spec: docs/PLAN.md:790-807). Normalization passes, applied before parsing
and hashing (markdown.rs:64-74):

1. setext -> ATX headings                      (markdown.rs:76-109)
2. ``**bold**`` line-as-H2 with blank-line guards (markdown.rs:111-135)
3. collapse consecutive blank lines + strip trailing whitespace
                                               (markdown.rs:137-156)
4. table pipe-spacing normalization            (markdown.rs:158-175)

Structure: ATX headings; sections to next heading of equal-or-lesser
depth with preamble (markdown.rs:208-267); pipe tables with separator-row
detection (markdown.rs:269-345).
"""

from __future__ import annotations

import re

from .html_parser import _build_sections

_SETEXT_H1 = re.compile(r"^=+\s*$")
_SETEXT_H2 = re.compile(r"^-+\s*$")
_BOLD_LINE = re.compile(r"^\*\*([^*]+)\*\*\s*$")
_ATX = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")
_TABLE_SEP = re.compile(r"^\s*\|?[\s:|-]+\|[\s:|-]*$")


def _pass_setext_to_atx(lines: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(lines):
        cur = lines[i]
        nxt = lines[i + 1] if i + 1 < len(lines) else None
        if nxt is not None and cur.strip() and not cur.lstrip().startswith("#"):
            if _SETEXT_H1.match(nxt):
                out.append("# " + cur.strip())
                i += 2
                continue
            if _SETEXT_H2.match(nxt) and "|" not in cur:
                out.append("## " + cur.strip())
                i += 2
                continue
        out.append(cur)
        i += 1
    return out


def _pass_bold_as_h2(lines: list[str]) -> list[str]:
    out: list[str] = []
    for i, ln in enumerate(lines):
        m = _BOLD_LINE.match(ln.strip())
        prev_blank = i == 0 or not lines[i - 1].strip()
        next_blank = i == len(lines) - 1 or not lines[i + 1].strip()
        if m and prev_blank and next_blank:
            out.append("## " + m.group(1).strip())
        else:
            out.append(ln)
    return out


def _pass_collapse_blanks(lines: list[str]) -> list[str]:
    out: list[str] = []
    prev_blank = False
    for ln in lines:
        ln = ln.rstrip()
        blank = not ln
        if blank and prev_blank:
            continue
        out.append(ln)
        prev_blank = blank
    while out and not out[-1]:
        out.pop()
    while out and not out[0]:
        out.pop(0)
    return out


def _pass_table_pipes(lines: list[str]) -> list[str]:
    out = []
    for ln in lines:
        s = ln.strip()
        if s.startswith("|") and s.count("|") >= 2 and not _TABLE_SEP.match(s):
            cells = [c.strip() for c in s.strip("|").split("|")]
            out.append("| " + " | ".join(cells) + " |")
        else:
            out.append(ln)
    return out


def normalize_markdown(md: str) -> str:
    """The 4 normalization passes, byte-stable (markdown.rs:64-74)."""
    lines = md.split("\n")
    lines = _pass_setext_to_atx(lines)
    lines = _pass_bold_as_h2(lines)
    lines = _pass_collapse_blanks(lines)
    lines = _pass_table_pipes(lines)
    return "\n".join(lines)


def _split_row(ln: str) -> list[str]:
    return [c.strip() for c in ln.strip().strip("|").split("|")]


def parse_markdown(md: str) -> dict:
    """Normalize then extract headings/sections/tables -> PARSED_TYPE dict."""
    try:
        normalized = normalize_markdown(md or "")
    except Exception as e:
        return {
            "normalized": None, "headings": None, "sections": None,
            "tables": None, "page_sections": None,
            "parse_error": f"E_PARSE: {type(e).__name__}: {e}",
        }
    lines = normalized.split("\n") if normalized else []

    headings: list[dict] = []
    for i, ln in enumerate(lines):
        m = _ATX.match(ln)
        if m:
            headings.append(
                {"level": len(m.group(1)), "text": m.group(2), "line": i + 1,
                 "page": None}
            )

    tables: list[dict] = []
    last_heading: str | None = None
    h_iter = iter(headings)
    next_h = next(h_iter, None)
    i = 0
    while i < len(lines):
        while next_h is not None and next_h["line"] <= i + 1:
            last_heading = next_h["text"]
            next_h = next(h_iter, None)
        ln = lines[i].strip()
        if (
            ln.startswith("|")
            and i + 1 < len(lines)
            and _TABLE_SEP.match(lines[i + 1].strip())
            and "|" in lines[i + 1]
        ):
            headers = _split_row(ln)
            start = i + 1
            j = i + 2
            rows = []
            while j < len(lines) and lines[j].strip().startswith("|"):
                rows.append(_split_row(lines[j]))
                j += 1
            width = max([len(headers)] + [len(r) for r in rows])
            headers = headers + [""] * (width - len(headers))
            rows = [r + [""] * (width - len(r)) for r in rows]
            tables.append(
                {
                    "heading_ref": last_heading,
                    "index": len(tables),
                    "start_line": start,
                    "end_line": j,
                    "page": None,
                    "headers": headers,
                    "rows": rows,
                }
            )
            i = j
            continue
        i += 1

    sections = _build_sections(lines, headings)
    return {
        "normalized": normalized,
        "headings": [
            {"level": h["level"], "text": h["text"], "line": h["line"]}
            for h in headings
        ],
        "sections": sections,
        "tables": tables,
        "page_sections": 0,
        "parse_error": None,
    }
