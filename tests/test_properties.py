"""Property-based tests (hypothesis): robustness + invariants the
scenario tests can't sweep."""

from hypothesis import given, settings, strategies as st

from fingerprint_spark.functions.hashing import (
    minhash_signature_py,
    simhash64_py,
)
from fingerprint_spark.parse.html_parser import normalize_ws, parse_html

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
