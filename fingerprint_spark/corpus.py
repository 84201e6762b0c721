"""Deterministic synthetic Common-Crawl-style corpus.

Produces the BASELINE.json ``input_hint`` table
``documents(url string, warc_ts timestamp, html binary, text string,
lang string)`` at any scale, generated *distributed* (spark.range ->
mapInPandas, Arrow-batched) so corpus generation itself scales like the
pipeline. Everything is a pure function of (seed, doc_id): same inputs,
same bytes, any partitioning.

The generator composes each page from typed content blocks (headings /
paragraphs / tables), renders HTML with injected noise (NBSP, dashes,
script/style tags, comments, ragged whitespace), and renders the EXPECTED
extracted text independently from the same blocks. The pipeline's
byte-identity invariant (parsed normalized text == text per url) is therefore
a genuine test of the normalization rules, not a tautology.

Page classes (ground-truth labels for keep/drop F1, BASELINE.json metric):

- ``article``     good content, langs en/de/fr/es      -> keep (en only)
- ``table_page``  report page with tables + headings   -> keep
- ``pii``         good article with emails/phones/ids  -> keep, scrubbed
- ``spam``        instances of known spam templates    -> drop (template)
- ``boilerplate`` nav-only chrome, few words           -> drop (heuristics)
- ``lowquality``  symbol soup / repeated lines         -> drop (gopher)

Host distribution is deliberately skewed (~25% of urls on one host) to
exercise the salting/repartition path of the pipeline.
"""

from __future__ import annotations

import html as html_mod
import random
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SEED = 42

# -- tiny embedded vocab per language (public common words) ---------------
VOCAB = {
    "en": (
        "the of and to in a is that for it with as was on are be this have "
        "from or had by word but not what all were when your can said there "
        "use each which she how their time will way about many then them "
        "would like these people water first could other more very into "
        "report market growth annual revenue data system policy research "
        "public service national government economic development community"
    ).split(),
    "de": (
        "der die das und in zu den von mit sich des auf für ist im dem nicht "
        "ein eine als auch es an werden aus er hat dass sie nach wird bei "
        "einer um am sind noch wie über einem bericht markt wachstum daten "
        "system politik forschung öffentlich dienst national regierung"
    ).split(),
    "fr": (
        "le de la et les des en un du une que est pour qui dans a par plus "
        "pas au sur ne se ce il sont la mais comme ou si leur y dont été "
        "rapport marché croissance données système politique recherche "
        "public service national gouvernement économique développement"
    ).split(),
    "es": (
        "el la de que y a en un ser se no haber por con su para como estar "
        "tener le lo todo pero más hacer o poder decir este ir otro ese "
        "informe mercado crecimiento datos sistema política investigación "
        "público servicio nacional gobierno económico desarrollo comunidad"
    ).split(),
}

SPAM_PHRASES = [
    "buy cheap pills online no prescription best price guaranteed",
    "casino bonus free spins deposit win big jackpot now",
    "replica watches luxury brands discount outlet fast shipping",
    "weight loss miracle supplement doctors hate this trick",
]

HOSTS = [
    "popular.example.com",  # skewed hot host
    "news.example.org",
    "blog.example.net",
    "shop.example.io",
    "docs.example.dev",
    "forum.example.co",
    "wiki.example.info",
    "data.example.ai",
]

FIRST_NAMES = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"]

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

PAGE_CLASSES = [
    ("article", 40),
    ("table_page", 15),
    ("pii", 10),
    ("spam", 15),
    ("boilerplate", 10),
    ("lowquality", 10),
]
_CLASS_WHEEL: list[str] = []
for _name, _w in PAGE_CLASSES:
    _CLASS_WHEEL.extend([_name] * _w)

CORPUS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "page_class string, expected_keep boolean"
)
INPUT_COLS = ["url", "warc_ts", "html", "text", "lang"]


def _rng(doc_id: int) -> random.Random:
    return random.Random((doc_id * 2654435761 + SEED) & 0xFFFFFFFF)


def _sentence(r: random.Random, lang: str, n: int) -> str:
    words = [r.choice(VOCAB[lang]) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(r: random.Random, lang: str, sentences: int) -> str:
    return " ".join(_sentence(r, lang, r.randint(8, 18)) for _ in range(sentences))


# -- block composition -----------------------------------------------------
# blocks: ("h", level, text) | ("p", text) | ("table", headers, rows)

def _article_blocks(r: random.Random, lang: str) -> list[tuple]:
    blocks: list[tuple] = [("h", 1, _sentence(r, lang, 5).rstrip(".").title())]
    for _ in range(r.randint(2, 4)):
        blocks.append(("h", 2, _sentence(r, lang, 3).rstrip(".").title()))
        for _ in range(r.randint(1, 3)):
            blocks.append(("p", _paragraph(r, lang, r.randint(2, 5))))
    return blocks


def _table_blocks(r: random.Random, lang: str) -> list[tuple]:
    blocks = _article_blocks(r, lang)[:3]
    headers = ["Item", "Quantity", "Price", "Date"]
    rows = [
        [
            r.choice(VOCAB[lang]).capitalize(),
            str(r.randint(1, 500)),
            f"${r.randint(10, 9999)}.{r.randint(0, 99):02d}",
            f"2024-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
        ]
        for _ in range(r.randint(3, 8))
    ]
    blocks.append(("h", 2, "Financial Summary"))
    blocks.append(("table", headers, rows))
    blocks.append(("p", _paragraph(r, lang, 2)))
    return blocks


def _pii_blocks(r: random.Random, lang: str) -> list[tuple]:
    blocks = _article_blocks(r, lang)
    name = r.choice(FIRST_NAMES)
    email = f"{name}.{r.randint(1, 99)}@mail.example.com"
    phone = f"({r.randint(200, 989)}) {r.randint(200, 989)}-{r.randint(1000, 9999)}"
    ssn = f"{r.randint(100, 899)}-{r.randint(10, 99)}-{r.randint(1000, 9999)}"
    blocks.append(("h", 2, "Contact Information"))
    blocks.append(
        ("p", f"Reach us at {email} or call {phone}. Reference id {ssn} on file.")
    )
    return blocks


def _spam_blocks(r: random.Random) -> list[tuple]:
    phrase = r.choice(SPAM_PHRASES)
    blocks: list[tuple] = [("h", 1, phrase.title())]
    for _ in range(r.randint(3, 6)):
        blocks.append(("p", (phrase + " ") * r.randint(2, 4) + "click here now"))
    blocks.append(("h", 2, "Special Offer Limited Time"))
    blocks.append(("p", "visit www.spam-" + str(r.randint(1, 999)) + ".example"))
    return blocks


def _boilerplate_blocks(r: random.Random) -> list[tuple]:
    nav = ["Home", "About", "Contact", "Login", "Register", "Terms", "Privacy"]
    r.shuffle(nav)
    return [("h", 1, "Menu"), ("p", " ".join(nav[: r.randint(4, 7)]))]


def _lowquality_blocks(r: random.Random) -> list[tuple]:
    junk = "".join(r.choice("@#$%^&*()[]{}<>~`|\\/+=_-") for _ in range(r.randint(40, 90)))
    line = _sentence(r, "en", 4)
    blocks: list[tuple] = [("h", 1, "zzz " + junk[:10])]
    for _ in range(r.randint(4, 8)):
        blocks.append(("p", junk if r.random() < 0.5 else line))
    return blocks


# -- renderers --------------------------------------------------------------

def _render_expected_text(blocks: list[tuple]) -> str:
    """The ground-truth extracted text — mirrors the documented
    normalization spec (one line per heading/paragraph, tables as
    ' | '-joined lines), computed WITHOUT the html parser."""
    lines: list[str] = []
    for blk in blocks:
        if blk[0] == "h":
            lines.append(blk[2])
        elif blk[0] == "p":
            lines.append(blk[1])
        else:
            _, headers, rows = blk
            lines.append(" | ".join(headers))
            lines.extend(" | ".join(row) for row in rows)
    return "\n".join(lines)


def _noisy(r: random.Random, s: str) -> str:
    """HTML-escape + inject markup-level noise that normalization must
    erase (NBSP / ragged whitespace, reference html.rs:353-363)."""
    s = html_mod.escape(s)
    if r.random() < 0.3:
        s = s.replace(" ", "\u00a0", 1)  # NBSP
    if r.random() < 0.2:
        s = s.replace(" ", "  ", 1)  # double space
    return s


def _render_html(r: random.Random, blocks: list[tuple], page_class: str) -> str:
    out = [
        "<!DOCTYPE html><html><head><title>ignored title</title>",
        "<meta charset='utf-8'><style>body{color:#000}</style>",
        "<script>var tracking_id=%d;</script></head><body>" % r.randint(1, 10**6),
    ]
    use_pages = page_class == "table_page" and r.random() < 0.7
    page_no = 1
    if use_pages:
        out.append(f'<section data-page-number="{page_no}">')
    for i, blk in enumerate(blocks):
        if use_pages and i > 0 and i % 4 == 0:
            page_no += 1
            out.append(f'</section><section data-page-number="{page_no}">')
        if blk[0] == "h":
            _, level, text = blk
            out.append(f"<h{level}>{_noisy(r, text)}</h{level}>")
        elif blk[0] == "p":
            out.append(f"<p>{_noisy(r, blk[1])}</p>")
            if r.random() < 0.2:
                out.append("<!-- comment noise -->")
        else:
            _, headers, rows = blk
            out.append("<table><tr>" + "".join(f"<th>{h}</th>" for h in headers) + "</tr>")
            for row in rows:
                out.append("<tr>" + "".join(f"<td>{_noisy(r, c)}</td>" for c in row) + "</tr>")
            out.append("</table>")
    if use_pages:
        out.append("</section>")
    out.append("<div class='footer'><script>spy()</script></div></body></html>")
    return "".join(out)


def gen_doc(doc_id: int) -> dict:
    """Pure function (seed, doc_id) -> one corpus row + labels."""
    r = _rng(doc_id)
    page_class = _CLASS_WHEEL[doc_id % len(_CLASS_WHEEL)]
    # skewed host distribution: ~25% of docs land on HOSTS[0]
    host = HOSTS[0] if r.random() < 0.25 else r.choice(HOSTS[1:])
    url = f"https://{host}/p/{doc_id:010d}.html"
    warc_ts = EPOCH + timedelta(minutes=doc_id % 525600, seconds=doc_id % 60)

    if page_class == "article":
        lang = ("en", "en", "de", "fr", "es")[doc_id % 5]
        blocks = _article_blocks(r, lang)
        keep = lang == "en"
    elif page_class == "table_page":
        lang, blocks, keep = "en", _table_blocks(r, "en"), True
    elif page_class == "pii":
        lang, blocks, keep = "en", _pii_blocks(r, "en"), True
    elif page_class == "spam":
        lang, blocks, keep = "en", _spam_blocks(r), False
    elif page_class == "boilerplate":
        lang, blocks, keep = "en", _boilerplate_blocks(r), False
    else:
        lang, blocks, keep = "en", _lowquality_blocks(r), False

    text = _render_expected_text(blocks)
    html = _render_html(r, blocks, page_class)
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
        "page_class": page_class,
        "expected_keep": keep,
    }


def generate_corpus(
    spark: SparkSession, n_docs: int, partitions: int | None = None,
    with_labels: bool = False,
) -> DataFrame:
    """Distributed deterministic generation: spark.range -> mapInPandas."""
    if partitions is None:
        partitions = max(4, min(64, n_docs // 250 or 1))

    def gen_batch(it):
        for pdf in it:
            yield pd.DataFrame([gen_doc(int(i)) for i in pdf["id"]])

    df = (
        spark.range(0, n_docs, 1, partitions)
        .mapInPandas(gen_batch, schema=CORPUS_SCHEMA)
    )
    if not with_labels:
        df = df.select(*INPUT_COLS)
    return df
