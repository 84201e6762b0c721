"""URL functions for web-corpus curation — pure Column expressions.

A Common-Crawl-style pipeline keys everything on url (BASELINE.json
input_hint), so before any dedup or filter the url itself must be
normalized: the same page arrives as http/https, with/without www, with
fragment anchors and click-tracking query params, with unsorted query
strings. Canonicalization collapses those; eTLD+1 extraction gives the
unit domain policy operates on; blocklist filtering drops whole
registered domains (spam/adult lists) with a broadcast join.

Everything here is whole-stage-codegen'd JVM expressions (parse_url,
regexp, array HOFs over query params — a handful of elements per row,
never token-scale arrays). No Python executes per row.

Public-knowledge semantics: RFC 3986 normalization subset + the
tracking-param strip list used by the major link-cleaning tools; the
multi-part suffix handling follows the Public Suffix List algorithm
(publicsuffix.org) over a parameterizable suffix set — ship a compact
common subset, pass the full PSL at deploy time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# click/campaign tracking params stripped during canonicalization
TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|fbclid|gclid|msclkid|dclid|mc_eid|igshid|ref|ref_src)="
)

# compact common subset of the Public Suffix List's multi-label suffixes;
# production passes the full list (the expression scales as a hash-set
# membership probe either way)
MULTIPART_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
    "github.io", "gitlab.io", "blogspot.com",
]


def url_host(url: Column) -> Column:
    """Lowercased authority without port (try_parse_url: invalid url -> NULL row outcome, never a task failure under ANSI mode)."""
    return F.lower(
        F.regexp_replace(F.try_parse_url(url, F.lit("HOST")), r":\d+$", "")
    )


def _clean_query(url: Column) -> Column:
    """Query string minus tracking params, params sorted for stability;
    empty string when nothing survives."""
    q = F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit(""))
    kept = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    return F.array_join(kept, "&")


def url_canonical(url: Column) -> Column:
    """Canonical form: https-normalized scheme dropped (scheme is not
    identity for dedup), host lowercased with a leading ``www.`` and any
    port stripped, path with trailing slash trimmed (bare ``/`` becomes
    empty), fragment dropped, tracking params removed, remaining query
    params sorted. NULL for urls with no parseable host."""
    host = F.regexp_replace(url_host(url), r"^www\.", "")
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/$", "")
    q = _clean_query(url)
    return F.when(
        host.isNotNull() & (host != ""),
        F.concat(
            host, path, F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit(""))
        ),
    )


def registered_domain(host: Column) -> Column:
    """eTLD+1 per the PSL algorithm over MULTIPART_SUFFIXES: one extra
    label beyond the longest matching public suffix. A bare TLD or
    single-label host returns itself."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.array_join(F.slice(parts, n - 1, 2), ".")
    last3 = F.array_join(F.slice(parts, n - 2, 3), ".")
    return F.when(n <= 1, host).when(
        (n >= 3) & last2.isin(MULTIPART_SUFFIXES), last3
    ).otherwise(last2)


def domain_reputation(
    df: DataFrame,
    domain_col: str = "reg_dom",
    keep_col: str = "keep",
) -> DataFrame:
    """Per-registered-domain reputation from a prior quality pass:
    (domain, n_docs, n_keep, keep_permille, below_corpus_rate).

    The C4/RefinedWeb pattern: run the per-document quality filter,
    aggregate keep-rate per domain, then feed the (tiny) domain table
    back as a broadcast to drop or downweight low-reputation domains on
    the next pass. keep_permille is (1000*keeps) div docs — exact integer
    division on both engines, so the oracle comparison is exact;
    below_corpus_rate compares against the corpus-wide permille.

    One aggregate over the domain table gathers its rows with the
    corpus-wide sums, so the input plan, and any Python stage in it,
    runs once (a cross join with a separate corpus aggregate reads the
    input twice). That aggregate is one task over one row per domain:
    the table this function exists to broadcast."""
    per_dom = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(keep_col).cast("long")).alias("n_keep"),
    )
    # div, not floor(a/b): double division can mis-floor near-integer
    # quotients (and overflows 2^53 exactness at large counts) — the
    # oracle computes exact integer division, so must the engine
    return (
        per_dom.agg(
            F.collect_list(F.struct("domain", "n_docs", "n_keep")).alias("_doms"),
            F.expr("(1000 * sum(n_keep)) div sum(n_docs)").alias("_corpus"),
        )
        .select(F.inline("_doms"), "_corpus")
        .withColumn("keep_permille", F.expr("(1000 * n_keep) div n_docs"))
        .withColumn(
            "below_corpus_rate",
            (F.col("keep_permille") < F.col("_corpus")).cast("int"),
        )
        .drop("_corpus")
    )


def robots_disallows(robots_txt: Column, agent: str = "*") -> Column:
    """Array of Disallow path-prefixes for the given user-agent group
    from a robots.txt body — pure Column expressions (REP subset: group
    selection by exact agent token, Disallow prefixes; Allow overrides
    and wildcards are a documented non-goal of this subset).

    Group extraction: split the file on runs of user-agent lines
    (RFC 9309 §2.1: stacked ``User-agent:`` lines share one rule set),
    keep every segment whose header run names ``agent`` — the agent
    token is compared after the colon with surrounding whitespace
    trimmed, so ``User-agent:*`` / ``User-agent:  *`` / ``user-agent: *``
    all match — and collect the Disallow values of all matching groups.
    Empty Disallow ("allow all") and missing groups yield an empty
    array."""
    # normalize: strip comments + CRs, canonicalize user-agent lines to
    # 'ua:<value>' (value whitespace handled at compare time)
    body = F.regexp_replace(robots_txt, r"(?m)#.*$", "")
    body = F.regexp_replace(body, "\r", "")
    # drop blank lines BEFORE grouping: RFC 9309 §2.1 allows empty /
    # comment-only lines between stacked user-agent lines, and rules
    # bind to the nearest preceding agent run regardless of blank
    # separation — a blank line must not split a run
    body = F.regexp_replace(body, r"(?m)^[ \t]*\n", "")
    body = F.regexp_replace(body, r"(?mi)^[ \t]*user-agent[ \t]*:", "ua:")
    # one separator per GROUP: a maximal run of consecutive ua: lines
    # starts a group, so the separator goes before the run — a rule set
    # after stacked agent lines then belongs to every agent in the run
    seg = F.split(
        F.regexp_replace(body, r"(?m)((?:^ua:[^\n]*\n?)+)", "\x01$1"),
        "\x01",
    )
    want = agent.lower()
    mine = F.filter(
        seg,
        lambda s: F.exists(
            F.split(s, "\n"),
            lambda ln: F.trim(ln).rlike("(?i)^ua:")
            & (
                F.lower(F.trim(F.regexp_replace(F.trim(ln), "(?i)^ua:", "")))
                == F.lit(want)
            ),
        ),
    )
    # RFC 9309 §2.2.1: multiple groups naming the same agent combine;
    # a missing agent group is an EMPTY rule set
    group = F.array_join(mine, "\n")
    rules = F.filter(
        F.transform(
            F.split(group, "\n"),
            lambda ln: F.when(
                F.lower(F.trim(ln)).rlike(r"^disallow\s*:"),
                F.trim(F.regexp_replace(ln, r"(?i)^\s*disallow\s*:", "")),
            ),
        ),
        lambda p: p.isNotNull() & (p != ""),
    )
    return rules


def robots_is_allowed(path: Column, disallows: Column) -> Column:
    """True iff no Disallow prefix matches the path (REP prefix
    semantics over the subset above)."""
    return ~F.exists(disallows, lambda p: path.startswith(p))
