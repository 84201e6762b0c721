"""Property-based tests (hypothesis): robustness + invariants the
scenario tests can't sweep."""

from hypothesis import Phase, given, settings, strategies as st

from fingerprint_spark.functions.hashing import (
    minhash_signature_py,
    simhash64_py,
)
from fingerprint_spark.parse.html_parser import (
    normalize_ws,
    parse_html,
    parse_html_stdlib,
)

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@settings(max_examples=150, deadline=None)
@given(text_strategy)
def test_html_parser_never_throws(s):
    """Arbitrary input -> parse or structured error, never an exception
    (enricher.rs:145-159: parse failure is a skip, not a crash)."""
    out = parse_html(s)
    assert out["parse_error"] is None or out["normalized"] is None


@settings(max_examples=150, deadline=None)
@given(text_strategy)
def test_normalize_ws_idempotent(s):
    once = normalize_ws(s)
    assert normalize_ws(once) == once


@settings(max_examples=100, deadline=None)
@given(text_strategy)
def test_extract_text_deterministic(s):
    html = f"<html><body><p>{s.replace('<', '&lt;').replace('>', '&gt;')}</p></body></html>"
    assert parse_html(html)["normalized"] == parse_html(html)["normalized"]


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet="abcdefg hij", min_size=0, max_size=300))
def test_simhash_self_identical_and_bounded(s):
    a = simhash64_py(s)
    assert a == simhash64_py(s)
    assert -(1 << 63) <= a < (1 << 63)


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet="abcdefg hij", min_size=0, max_size=300))
def test_minhash_signature_stable(s):
    sig = minhash_signature_py(s, 16)
    assert sig == minhash_signature_py(s, 16)
    assert len(sig) == 16
    assert all(0 <= x < (1 << 31) for x in sig)


def test_nested_tables_parse_independently():
    """An inner <table> must not clobber the outer row in flight: outer
    cells collected before the nested table survive, and inner rows are
    not merged into the outer table (real-world layout HTML)."""
    html = (
        "<html><body><table>"
        "<tr><th>A</th><th>B</th></tr>"
        "<tr><td>a1</td><td>"
        "<table><tr><th>X</th></tr><tr><td>x1</td></tr></table>"
        " after</td></tr>"
        "<tr><td>a2</td><td>b2</td></tr>"
        "</table></body></html>"
    )
    out = parse_html(html)
    assert out["parse_error"] is None
    tables = out["tables"]
    assert len(tables) == 2
    inner = next(t for t in tables if t["headers"] == ["X"])
    outer = next(t for t in tables if t["headers"] == ["A", "B"])
    assert inner["rows"] == [["x1"]]
    assert ["a2", "b2"] in outer["rows"]
    # the outer row whose cell contains the nested table keeps its cells
    assert any(r and r[0] == "a1" for r in outer["rows"])


def test_flat_table_unchanged_by_stack_refactor():
    html = (
        "<table><tr><th>H1</th><th>H2</th></tr>"
        "<tr><td rowspan='2'>v</td><td>b</td></tr>"
        "<tr><td>c</td></tr></table>"
    )
    out = parse_html(html)
    (t,) = out["tables"]
    assert t["headers"] == ["H1", "H2"]
    assert t["rows"] == [["v", "b"], ["v", "c"]]


def test_shingle_hash_hi_lo_uncorrelated():
    """The 64-bit shingle hash must carry 64 independent bits: the high
    word may not be a (near-)deterministic function of the low word, as
    it was with crc32(s) / crc32(s, salt) (GF(2)-linear, hi = lo XOR a
    length-dependent constant). Checks both XOR-constancy per length and
    per-bit hi/lo correlation over a large sample."""
    import numpy as np

    from fingerprint_spark.functions.hashing import _shingle_hashes64

    text = " ".join(f"w{i % 97}x{i % 89}" for i in range(3000))
    h = _shingle_hashes64(text, 3)
    lo = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    hi = (h >> np.uint64(32)).astype(np.uint64)
    # 1) hi XOR lo is not (close to) a constant — the crc32 failure mode
    assert len(np.unique(hi ^ lo)) > 0.99 * len(h)
    # 2) bit i of hi agrees with bit i of lo ~50% of the time
    for bit in range(0, 32, 5):
        m = np.uint64(1 << bit)
        agree = float(np.mean(((hi & m) != 0) == ((lo & m) != 0)))
        assert 0.40 < agree < 0.60, f"bit {bit}: agreement {agree}"


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.sampled_from("the quick brown fox jumps over lazy dog".split()),
             min_size=10, max_size=60)
)
def test_minhash_jaccard_estimate_sane(words):
    """Identical docs estimate 1.0; disjoint-vocab docs estimate ~0."""
    a = " ".join(words)
    s1 = minhash_signature_py(a, 32)
    assert sum(x == y for x, y in zip(s1, minhash_signature_py(a, 32))) == 32
    b = " ".join(["zebra", "xylophone", "quartz"] * 10)
    est = sum(x == y for x, y in zip(s1, minhash_signature_py(b, 32))) / 32
    assert est <= 0.2


@settings(max_examples=25, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="ABCdef123 _-", min_size=1, max_size=12).map(str.strip).filter(bool),
        st.lists(
            st.lists(
                st.text(alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=20),
                min_size=1, max_size=5,
            ),
            min_size=1, max_size=6,
        ),
        min_size=1, max_size=3,
    )
)
def test_xlsx_roundtrip_property(sheets):
    """make_xlsx -> xlsx_to_sheets roundtrips arbitrary grids: values
    survive verbatim, grids come back dense (rows padded to max width)."""
    from fingerprint_spark.sources.xlsx import make_xlsx, xlsx_to_sheets

    got = xlsx_to_sheets(make_xlsx(sheets))
    assert set(got) == set(sheets)
    for name, grid in sheets.items():
        width = max(len(r) for r in grid)
        # the writer emits cells only for non-empty values; a row of all
        # empties yields no cells — trailing all-empty rows disappear
        want = [r + [""] * (width - len(r)) for r in grid]
        while want and all(c == "" for c in want[-1]):
            want.pop()
        trimmed_width = max(
            (max((i + 1 for i, c in enumerate(r) if c != ""), default=0) for r in want),
            default=0,
        )
        want = [r[:trimmed_width] for r in want]
        assert got[name] == want, (name, grid, got[name])


def test_winnowing_guarantee_and_determinism():
    """The winnowing property: documents sharing a substring of length
    >= k + window - 1 share at least one fingerprint; disjoint-alphabet
    documents share none; output is deterministic."""
    from fingerprint_spark.functions.hashing import winnow_minima_py

    shared = "the quarterly revenue figures improved materially this year"
    a = "intro text before. " + shared + " trailing remarks here."
    b = "completely different opening. " + shared + " other ending."
    c = "zzz qqq xxx vvv kkk jjj uuu www yyy mmm nnn ppp rrr sss ttt"
    fa = winnow_minima_py(a, k=8, window=4)
    fb = winnow_minima_py(b, k=8, window=4)
    fc = winnow_minima_py(c, k=8, window=4)
    assert fa == winnow_minima_py(a, k=8, window=4)
    assert set(fa) & set(fb), "shared substring must share a fingerprint"
    assert not (set(fa) & set(fc))
    assert winnow_minima_py("", 8, 4) == []
    assert winnow_minima_py("short", 8, 4) == []


@settings(max_examples=40, deadline=None)
@given(st.text(alphabet="abcdef gh", min_size=0, max_size=200))
def test_winnowing_never_throws_and_bounded(s):
    from fingerprint_spark.functions.hashing import winnow_minima_py

    fp = winnow_minima_py(s, k=5, window=3)
    # 60-bit md5 prefixes, one window minimum per window position
    assert all(0 <= x < (1 << 60) for x in fp)
    assert len(fp) <= max(1, len(s))


# --- fast kernels against their reference twins ---------------------------

_TAG_NAMES = ["p", "P", "div", "br", "BR", "td", "th", "tr", "table", "h1",
              "H2", "h7", "li", "section", "script", "SCRIPT", "style",
              "title", "head", "span", "a", "x:y", "my-tag"]
_SOUP_PIECES = st.one_of(
    # start tags: plain, uppercase, self-closing, attributes with
    # quoted ">" and "/", bare and repeated "=", colspan/rowspan, pages
    st.builds(lambda t: f"<{t}>", st.sampled_from(_TAG_NAMES)),
    st.builds(lambda t: f"</{t}>", st.sampled_from(_TAG_NAMES)),
    st.builds(lambda t, a: f"<{t} {a}>", st.sampled_from(_TAG_NAMES), st.sampled_from([
        'href="a>b"', "title='x/>y'", "colspan=2", "rowspan='3'",
        'data-page-number="7"', "data-page-number=x", "checked", "a==b",
        'x="unterminated', "a=b/", "/", "\tz"])),
    st.builds(lambda t: f"<{t}/>", st.sampled_from(_TAG_NAMES)),
    st.builds(lambda t: f"< /{t} >", st.sampled_from(_TAG_NAMES)),
    st.sampled_from([
        "<!DOCTYPE html>", "<!-- note -->", "<!-- open", "<!--x--!>",
        "<![CDATA[a<b]]>", "<![if IE]>", "<![endif]>", "<![foo bar>",
        "<![ x>", "<!bogus>", "<?xml v='1'?>", "<?pi", "</>", "</ p>",
        "</3>", "< p>", "<", "<<", "<3", "&", "&&", "&amp;", "&amp",
        "&#65;", "&#x41", "&#;", "&nbsp;", "&bogus;", "&lt;p&gt;", "\n",
        " \u00a0 ", "\u2013", "</script >", "</ScRiPt>", "</style",
        "<script>if (a < b) {}</p></script>", "<p a='1'/>", "<br/>",
        "<section data-page-number=\"2\"><h2>Hi</h2></section>",
    ]),
    st.text(alphabet="ab <>&;#/=\"'!?-\nİ", max_size=12),
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_SOUP_PIECES, max_size=40), st.integers(min_value=0, max_value=8))
def test_scanner_matches_stdlib_parser(pieces, cut):
    """parse_html's single-pass scanner gives the whole dict the
    html.parser-driven twin gives, parse_error included, on tag soup;
    cutting characters off the end leaves markup unterminated at EOF."""
    html = "".join(pieces)
    for doc in (html, html[: len(html) - cut]):
        assert parse_html(doc) == parse_html_stdlib(doc), doc


def test_scanner_matches_stdlib_parser_on_errors():
    """A marked section the stdlib refuses is the same E_PARSE skip."""
    for doc in ("<p>a<![foo bar>b</p>", "x<![ y>", "<![if x>"):
        out = parse_html(doc)
        assert out == parse_html_stdlib(doc), doc
    assert parse_html("<p>a<![foo bar>b</p>")["parse_error"].startswith(
        "E_PARSE: AssertionError"
    )


_PPL_CHARS = st.one_of(
    st.characters(max_codepoint=0x7F),
    st.sampled_from("İıßẞﬃΣςéü日本\x01\x02\x03"),
    st.characters(min_codepoint=0x10000, max_codepoint=0x1FFFF),  # astral
)


def _ppl_models():
    from fingerprint_spark.functions.perplexity import train_char_ngram
    from fingerprint_spark.pipeline import default_ppl_model

    return (
        default_ppl_model(),
        train_char_ngram(["plain ascii text", "more words here"]),
        # a model that holds non-ASCII grams scores through score_text
        train_char_ngram(["café İstanbul 日本", "ascii too"]),
    )


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_PPL_CHARS, max_size=60), st.integers(0, 4100))
def test_ppl_lut_matches_score_text(s, pad):
    """score_text_fast_fn returns score_text's exact float, for text
    whose lower() changes length, astral chars, text past the
    4,000-char truncation and a model with non-ASCII grams."""
    from fingerprint_spark.functions.perplexity import score_text, score_text_fast_fn

    for text in (s, "a" * pad + s, s * (4100 // max(len(s), 1)),
                 "Café İstanbul 日本 " + s):
        for m in _ppl_models():
            want = score_text(m.as_dict(), m.order, m.backoff_logp, text)
            assert score_text_fast_fn(m)(text) == want, text


_SCRUB_TEXT = st.lists(
    st.one_of(
        st.text(alphabet="0123456789@()-. ab", max_size=20),
        st.sampled_from([
            "(555) 123-4567890-12-3456", "(555) 123-4567", "123-45-6789",
            "987-64-3200", "(987) 604-3200", "joe@example.org",
            "a.b@c.de", "x@y.com-12-3456", "10.0.0.1", "damn", "Hell-o",
            "1-(555) 123-4567", "@", "(", "-", " ",
        ]),
    ),
    max_size=8,
).map("".join)


# no shrink phase: each example is a Spark job
@settings(max_examples=5, deadline=None,
          phases=(Phase.explicit, Phase.reuse, Phase.generate))
@given(st.lists(_SCRUB_TEXT, min_size=50, max_size=120))
def test_guarded_scrub_matches_unguarded_chain(spark, texts):
    """The literal-guarded counts and replacement chain equal the
    unguarded ones (scrub_text, counts without a guard), in one
    DataFrame, NULL text included."""
    from pyspark.sql import functions as F

    from fingerprint_spark.functions.scrub import (
        PII_PATTERNS, SCRUB_LEVELS, scrub_counts, scrub_levels, scrub_text,
    )

    text = F.col("text")
    # the phone replacement there puts a new \b before "890-12-3456"
    texts = [*texts, "(555) 123-4567890-12-3456", None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for level in scrub_levels(text, ("guarded",) * SCRUB_LEVELS):
        df = df.withColumns(level)
    unguarded = F.struct(*[
        F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias(name)
        for name, pat, _r in PII_PATTERNS
    ])
    rows = df.select(
        "text", "guarded", scrub_text(text).alias("chain"),
        scrub_counts(text).alias("counts"), unguarded.alias("want"),
    ).collect()
    for r in rows:
        assert r["guarded"] == r["chain"], r["text"]
        assert r["counts"] == r["want"], r["text"]
