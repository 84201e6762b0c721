"""In-document boilerplate classification — JusText-style block filter.

The corpus-level RefinedWeb filter (operators/curation.boilerplate_
filter) removes chunks popular ACROSS documents; this operator removes
boilerplate WITHIN one document using only its own structure — the
nav bars, footers, cookie banners and link lists that dominate real
crawled pages. Method per Pomikálek 2011 ("Removing Boilerplate and
Duplicate Content from Web Corpora", the public JusText thesis),
simplified to the signals that carry it:

1. segment the html into text blocks at block-level tag boundaries,
   tracking per block the characters that sit inside <a> (its LINK
   text);
2. context-free classify each block: high link density -> bad; long
   block with healthy stopword density -> good; short -> near-good
   (undecided);
3. context-aware pass: near-good blocks adopt GOOD iff a neighboring
   good block exists within the window (headings above content
   survive; stray short fragments between boilerplate drop).

Spark shape: one Arrow-batched mapInPandas stage per document (html
never shuffles; output is main_text + counters), composing with
quality_filter upstream of the corpus-level passes. Deliberately does
NOT touch parse.schema.PARSED_TYPE — stored parsed structs from
checkpointed runs stay valid; this pass has its own minimal segment
parser.
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.textstats import GOPHER_STOPWORDS

_BLOCK_TAGS = {
    "p", "div", "section", "article", "li", "td", "th", "blockquote",
    "h1", "h2", "h3", "h4", "h5", "h6", "pre", "figcaption", "nav",
    "footer", "header", "aside", "ul", "ol", "table", "tr", "body",
}
_SKIP_TAGS = {"script", "style", "noscript", "template"}
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}


class _SegmentParser(HTMLParser):
    """html -> [(text, link_chars, is_heading)] blocks."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, bool]] = []
        self._buf: list[str] = []
        self._links = 0
        self._in_a = 0
        self._skip = 0
        self._heading = False

    def _flush(self):
        text = " ".join("".join(self._buf).split())
        if text:
            self.blocks.append((text, self._links, self._heading))
        self._buf, self._links = [], 0
        # the heading flag belongs to the block just emitted; any
        # block boundary ends it — an UNCLOSED <h2> in dirty crawl
        # html must not mark every later block as a heading
        self._heading = False

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag == "a":
            self._in_a += 1
        elif tag in _BLOCK_TAGS:
            self._flush()
            if tag in _HEADING_TAGS:
                self._heading = True

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "a":
            self._in_a = max(0, self._in_a - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._skip:
            return
        self._buf.append(data)
        if self._in_a:
            self._links += len(" ".join(data.split()))

    def close(self):
        super().close()
        self._flush()


def segment_blocks(html: str) -> list[dict]:
    """-> [{text, link_density, stop_density, n_chars, is_heading}]"""
    p = _SegmentParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:  # malformed html -> no blocks (row outcome)
        return []
    stops = set(GOPHER_STOPWORDS)
    out = []
    for text, links, heading in p.blocks:
        n = len(text)
        words = text.lower().split()
        sd = (
            sum(1 for w in words if w in stops) / len(words)
            if words
            else 0.0
        )
        out.append(
            {
                "text": text,
                "link_density": min(1.0, links / n) if n else 0.0,
                "stop_density": sd,
                "n_chars": n,
                "is_heading": heading,
            }
        )
    return out


def classify_blocks(blocks: list[dict]) -> list[str]:
    """-> per-block 'good' | 'bad' after the context pass. Context-free,
    a block is bad above 0.4 link density, good at >= 80 chars with
    >= 0.02 stop-word density, else near. Context rule (JusText §4.3
    simplified): near-good blocks become good iff a good block lies
    within 2 blocks; headings get the same adoption looking FORWARD
    only (a heading is as good as the content it introduces)."""
    neighbour_window = 2
    ctx_free = []
    for b in blocks:
        if b["link_density"] > 0.4:
            ctx_free.append("bad")
        elif b["n_chars"] >= 80 and b["stop_density"] >= 0.02:
            ctx_free.append("good")
        else:
            ctx_free.append("near")
    final = list(ctx_free)
    for i, cls in enumerate(ctx_free):
        if cls != "near":
            continue
        if blocks[i]["is_heading"]:
            window = ctx_free[i + 1 : i + 1 + neighbour_window]
        else:
            lo = max(0, i - neighbour_window)
            window = (
                ctx_free[lo:i] + ctx_free[i + 1 : i + 1 + neighbour_window]
            )
        final[i] = "good" if "good" in window else "bad"
    return final


def strip_boilerplate_py(html: str) -> dict:
    """-> {main_text, n_blocks, n_good, n_bad, boilerplate_ratio}"""
    blocks = segment_blocks(html)
    classes = classify_blocks(blocks)
    good = [b["text"] for b, c in zip(blocks, classes) if c == "good"]
    total_chars = sum(b["n_chars"] for b in blocks)
    good_chars = sum(
        b["n_chars"] for b, c in zip(blocks, classes) if c == "good"
    )
    return {
        "main_text": "\n".join(good),
        "n_blocks": len(blocks),
        "n_good": sum(1 for c in classes if c == "good"),
        "n_bad": sum(1 for c in classes if c == "bad"),
        "boilerplate_ratio": (
            round(1.0 - good_chars / total_chars, 6) if total_chars else 0.0
        ),
    }


DOM_BOILERPLATE_DDL = (
    "url string, main_text string, n_blocks int, n_good int, n_bad int, "
    "boilerplate_ratio double"
)


def strip_boilerplate(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Per-document DOM boilerplate strip: (url, main_text, counters).
    One Arrow stage; html bytes never shuffle."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                h = (
                    bytes(html).decode("utf-8", "replace")
                    if isinstance(html, (bytes, bytearray))
                    else (html or "")
                )
                rows.append({"url": url, **strip_boilerplate_py(h)})
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "main_text", "n_blocks", "n_good", "n_bad",
                    "boilerplate_ratio",
                ],
            )

    return df.select(url_col, html_col).mapInPandas(
        op, schema=DOM_BOILERPLATE_DDL
    )
