"""URL curation functions (functions/urls.py): canonicalization edges,
PSL registered-domain algorithm, blocklist join shape."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fingerprint_spark.functions.urls import (
    registered_domain,
    url_canonical,
    url_host,
)


def _canon(spark, *urls):
    df = spark.createDataFrame([Row(url=u) for u in urls], "url string")
    return [r["c"] for r in
            df.select(url_canonical(F.col("url")).alias("c")).collect()]


def test_canonical_collapses_equivalent_forms(spark):
    variants = [
        "https://www.Example.com/a/b?b=2&a=1",
        "http://example.com:8080/a/b?a=1&b=2#frag",
        "https://example.com/a/b/?utm_source=x&a=1&fbclid=z&b=2",
    ]
    out = set(_canon(spark, *variants))
    assert out == {"example.com/a/b?a=1&b=2"}


def test_canonical_root_and_queryless(spark):
    assert _canon(
        spark,
        "https://example.com/",
        "https://example.com?utm_campaign=only",
    ) == ["example.com", "example.com"]


def test_canonical_unparseable_is_null(spark):
    assert _canon(spark, "not a url", "") == [None, None]


def test_canonical_keeps_distinct_params_distinct(spark):
    a, b = _canon(
        spark,
        "https://example.com/x?page=1",
        "https://example.com/x?page=2",
    )
    assert a != b and a == "example.com/x?page=1"


@pytest.mark.parametrize(
    "host,expected",
    [
        ("a.b.site.co.uk", "site.co.uk"),     # multi-part suffix
        ("deep.sub.example.com", "example.com"),
        ("example.com", "example.com"),
        ("user.github.io", "user.github.io"), # github.io is a suffix
        ("p.user.github.io", "user.github.io"),
        ("localhost", "localhost"),           # single label -> itself
        ("co.uk", "co.uk"),                   # bare suffix -> itself
    ],
)
def test_registered_domain_psl_algorithm(spark, host, expected):
    got = (
        spark.createDataFrame([Row(h=host)], "h string")
        .select(registered_domain(F.col("h")).alias("d"))
        .head()["d"]
    )
    assert got == expected


def test_host_strips_port_and_case(spark):
    got = (
        spark.createDataFrame([Row(u="https://WWW.Ex.COM:8443/p")], "u string")
        .select(url_host(F.col("u")).alias("h"))
        .head()["h"]
    )
    assert got == "www.ex.com"


def test_blocklist_filters_subdomains_via_etld1(spark):
    df = spark.createDataFrame(
        [
            Row(url="https://spam.example.com/x", doc_id=0),
            Row(url="https://deep.sub.spam-site.co.uk/y", doc_id=1),
            Row(url="https://fine.org/z", doc_id=2),
        ]
    )
    bl = spark.createDataFrame(
        [Row(domain="example.com"), Row(domain="SPAM-SITE.co.uk")]
    )
    # eTLD+1 equality turns "block the domain and every subdomain" into
    # an equi-join against the (broadcast) list, as q_url_curation does
    tagged = df.withColumn("__dom", registered_domain(url_host(F.col("url"))))
    bl = F.broadcast(bl.select(F.lower(F.col("domain")).alias("__dom")))

    def blocked(how):
        return tagged.join(bl, "__dom", how).drop("__dom")

    kept = blocked("left_anti")
    assert [r["doc_id"] for r in kept.collect()] == [2]
    dropped = blocked("left_semi")
    assert sorted(r["doc_id"] for r in dropped.collect()) == [0, 1]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_domain_reputation_rates_and_flag(spark):
    from fingerprint_spark.functions.urls import domain_reputation

    df = spark.createDataFrame(
        [Row(reg_dom="good.com", keep=1)] * 3
        + [Row(reg_dom="good.com", keep=0)]
        + [Row(reg_dom="bad.com", keep=0)] * 4,
        "reg_dom string, keep int",
    )
    out = {r["domain"]: r for r in domain_reputation(df).collect()}
    # corpus rate: 3/8 -> 375 permille
    assert out["good.com"]["keep_permille"] == 750
    assert out["good.com"]["below_corpus_rate"] == 0
    assert out["bad.com"]["n_docs"] == 4
    assert out["bad.com"]["keep_permille"] == 0
    assert out["bad.com"]["below_corpus_rate"] == 1


# ---------------------------------------------------------------------------
# unicode normalization (functions/normalize.py)
# ---------------------------------------------------------------------------


def test_mojibake_chain_prefix_ordering(spark):
    """The bare 2-char sequence is a prefix of the 3-char digraphs: the
    chain must fix the long ones first or it destroys them."""
    from fingerprint_spark.functions.normalize import mojibake_fix_col

    src = "aâ€™b â€ c Ã©"
    got = (
        spark.range(1)
        .select(mojibake_fix_col(F.lit(src)).alias("t"))
        .head()["t"]
    )
    assert got == "a’b ” c é"


def test_nfc_normalize_and_nulls(spark):
    from pyspark.sql import Row

    from fingerprint_spark.functions.normalize import nfc_normalize_col

    df = spark.createDataFrame(
        [Row(t="café"), Row(t=None), Row(t="ascii")], "t string"
    )
    got = [r["n"] for r in
           df.select(nfc_normalize_col(F.col("t")).alias("n")).collect()]
    assert got == ["café", None, "ascii"]


def test_nfc_idempotent_on_normalized_text(spark):
    from fingerprint_spark.functions.normalize import nfc_normalize_col

    once = nfc_normalize_col(F.lit("noël mélange"))
    twice = nfc_normalize_col(once)
    row = spark.range(1).select(once.alias("a"), twice.alias("b")).head()
    assert row["a"] == row["b"] == "noël mélange"


# ---------------------------------------------------------------------------
# robots.txt subset (REP prefix semantics)
# ---------------------------------------------------------------------------

ROBOTS = """# crawl policy
User-agent: *
Disallow: /private/
Disallow: /tmp
Crawl-delay: 5

User-agent: gptbot
Disallow: /
"""


def test_robots_group_selection_and_prefix_match(spark):
    from fingerprint_spark.functions.urls import (
        robots_disallows, robots_is_allowed,
    )

    row = spark.range(1).select(
        robots_disallows(F.lit(ROBOTS)).alias("star"),
        robots_disallows(F.lit(ROBOTS), "gptbot").alias("bot"),
        robots_disallows(F.lit(ROBOTS), "missing").alias("none"),
        robots_disallows(F.lit("")).alias("empty"),
    ).head()
    assert row["star"] == ["/private/", "/tmp"]
    assert row["bot"] == ["/"]      # other group must not leak into *
    assert row["none"] == [] and row["empty"] == []

    df = spark.createDataFrame(
        [("/private/x",), ("/pub/a",), ("/tmpfile",), ("/",)], "p string"
    )
    got = {r["p"]: r["ok"] for r in df.select(
        "p",
        robots_is_allowed(F.col("p"),
                          robots_disallows(F.lit(ROBOTS))).alias("ok"),
    ).collect()}
    # REP prefix semantics: /tmp also blocks /tmpfile
    assert got == {"/private/x": False, "/pub/a": True,
                   "/tmpfile": False, "/": True}


def test_robots_rfc9309_header_forms(spark):
    """ADVICE r3: 'User-agent:*' (no space) and 'User-agent:  *' are
    valid per RFC 9309; stacked agent lines share one rule set; multiple
    groups naming the same agent combine."""
    from fingerprint_spark.functions.urls import robots_disallows

    nospace = "User-agent:*\nDisallow: /a\n"
    multispace = "User-agent:   *\nDisallow: /b\n"
    stacked = "User-agent: gptbot\nUser-agent: *\nDisallow: /x\n"
    dup = ("User-agent: *\nDisallow: /one\n\n"
           "User-agent: other\nDisallow: /no\n\n"
           "User-agent: *\nDisallow: /two\n")
    row = spark.range(1).select(
        robots_disallows(F.lit(nospace)).alias("a"),
        robots_disallows(F.lit(multispace)).alias("b"),
        robots_disallows(F.lit(stacked)).alias("c_star"),
        robots_disallows(F.lit(stacked), "gptbot").alias("c_bot"),
        robots_disallows(F.lit(dup)).alias("d"),
    ).head()
    assert row["a"] == ["/a"]
    assert row["b"] == ["/b"]
    # the rule set after the stacked run belongs to BOTH agents
    assert row["c_star"] == ["/x"] and row["c_bot"] == ["/x"]
    # same-agent groups combine (RFC 9309 §2.2.1); 'other' doesn't leak
    assert row["d"] == ["/one", "/two"]


def test_robots_blank_and_comment_lines_inside_a_run(spark):
    """Review finding r4: RFC 9309 §2.1 allows empty / comment-only
    lines between stacked startgrouplines — they must not split the
    run or detach the rules."""
    from fingerprint_spark.functions.urls import robots_disallows

    gap = "User-agent: a\n# note\nUser-agent: *\n\nDisallow: /x\n"
    row = spark.range(1).select(
        robots_disallows(F.lit(gap), "a").alias("a"),
        robots_disallows(F.lit(gap)).alias("star"),
    ).head()
    assert row["a"] == ["/x"] and row["star"] == ["/x"]
