"""Bloom-filter frontier dedup (operators/bloom.py)."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.operators.bloom import bloom_build, bloom_probe

N_BITS = 1 << 20
K = 5


def _urls(spark, lo, hi, prefix="https://h/"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id")).alias("url")
    )


def test_no_false_negatives_and_bounded_fp(spark):
    seen = _urls(spark, 0, 5000)
    bloom = bloom_build(seen, "url", N_BITS, K)
    # every word has at most the filter's row budget (+1 marker row)
    assert bloom.count() <= N_BITS // 64 + 1
    # members: all 5000 must hit (false negatives are impossible)
    members = bloom_probe(seen, bloom, "url", N_BITS, K)
    assert members.filter("maybe_member = 0").count() == 0
    # non-members: fp rate near the theoretical (1-e^{-kn/m})^k ~ 5e-7
    # at this load; allow a generous 1e-3 ceiling on 20k probes
    fresh = _urls(spark, 100_000, 120_000)
    fp = bloom_probe(fresh, bloom, "url", N_BITS, K).filter(
        "maybe_member = 1"
    ).count()
    assert fp <= 20

def test_frontier_new_urls_composes_with_snapshots(spark, tmp_path):
    from fingerprint_spark.snapshots import commit_snapshot, read_snapshot

    t = str(tmp_path / "tbl")
    commit_snapshot(_urls(spark, 0, 2000), t)
    incoming = _urls(spark, 1000, 3000)          # 1000 old + 1000 new
    # crawl-frontier dedup: keep the incoming rows the bloom of the
    # seen snapshot definitely does not contain
    bloom = bloom_build(read_snapshot(spark, t), "url", N_BITS, K)
    new = bloom_probe(incoming, bloom, "url", N_BITS, K).filter(
        F.col("maybe_member") == 0
    )
    got = {r["url"] for r in new.collect()}
    # no seen URL re-emitted; (almost) all new ones kept — a bloom
    # false positive may drop a new URL, never emit an old one
    assert not any(int(u.rsplit("/", 1)[1]) < 2000 for u in got)
    assert len(got) >= 995


def test_probe_plan_is_broadcast_only(spark):
    seen = _urls(spark, 0, 1000)
    bloom = bloom_build(seen, "url", N_BITS, K)
    probed = bloom_probe(_urls(spark, 0, 10), bloom, "url", N_BITS, K)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # probe side shuffles nothing: the only Exchanges feed the
    # broadcast build of the (word_idx, word) table
    import re

    non_broadcast_exchanges = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange (?!SinglePartition)", ln)
        and "hashpartitioning" in ln and "word_idx" not in ln
    ]
    assert not non_broadcast_exchanges, non_broadcast_exchanges


def test_bad_n_bits_refused(spark):
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(_urls(spark, 0, 1), n_bits=100)


def test_parameter_mismatch_refused(spark):
    """Review finding r4b: probing with different (n_bits, k) than the
    build would silently manufacture false negatives — the filter is
    self-describing and the probe refuses."""
    bloom = bloom_build(_urls(spark, 0, 100), "url", N_BITS, K)
    with pytest.raises(ValueError, match="parameter mismatch"):
        bloom_probe(_urls(spark, 0, 10), bloom, "url", N_BITS * 2, K)
    with pytest.raises(ValueError, match="parameter mismatch"):
        bloom_probe(_urls(spark, 0, 10), bloom, "url", N_BITS, K + 1)


def test_sharded_probe_parity_with_broadcast(spark):
    """VERDICT r4 #1: the beyond-broadcast path must be output-
    identical to the broadcast path (the decontam-guard contract)."""
    seen = _urls(spark, 0, 3000)
    bloom = bloom_build(seen, "url", N_BITS, K)
    # duplicates + an unseen tail exercise the groupBy collapse and
    # the join-back fan-out
    probe = _urls(spark, 1000, 5000).unionAll(_urls(spark, 1500, 1600))
    a = bloom_probe(probe, bloom, "url", N_BITS, K, strategy="broadcast")
    b = bloom_probe(probe, bloom, "url", N_BITS, K, strategy="sharded")
    rows_a = sorted((r["url"], r["maybe_member"]) for r in a.collect())
    rows_b = sorted((r["url"], r["maybe_member"]) for r in b.collect())
    assert rows_a == rows_b
    assert len(rows_b) == 4100  # join-back must not multiply rows


def test_sharded_probe_null_key_parity(spark):
    """NULL keys hash deterministically (xxhash64 skips null inputs);
    the sharded join-back is null-safe so both strategies agree."""
    seen = _urls(spark, 0, 100)
    bloom = bloom_build(seen, "url", N_BITS, K)
    probe = spark.createDataFrame(
        [("https://h/1",), (None,), (None,)], "url string"
    )
    a = bloom_probe(probe, bloom, "url", N_BITS, K, strategy="broadcast")
    b = bloom_probe(probe, bloom, "url", N_BITS, K, strategy="sharded")
    skey = lambda t: (t[0] is None, t[0] or "", t[1])
    ra = sorted(((r["url"], r["maybe_member"]) for r in a.collect()), key=skey)
    rb = sorted(((r["url"], r["maybe_member"]) for r in b.collect()), key=skey)
    assert ra == rb and len(rb) == 3
    assert all(m is not None for _u, m in rb)


def test_auto_strategy_guard(spark):
    from fingerprint_spark.operators.bloom import _bloom_strategy

    # worst-case word table = n_bits/4 bytes vs the cap
    assert _bloom_strategy(1 << 26) == "broadcast"   # 16 MiB <= 64 MiB
    assert _bloom_strategy(1 << 32) == "sharded"     # 1 GiB  > 64 MiB
    assert _bloom_strategy(1 << 26, broadcast_cap_bytes=1 << 20) == "sharded"
    # auto dispatch actually runs the sharded plan at a beyond-
    # broadcast n_bits (the filter table is sparse at test scale, but
    # the guard keys on declared capacity, as it must at build time)
    seen = _urls(spark, 0, 500)
    nb = 1 << 32
    bloom = bloom_build(seen, "url", nb, K)
    probed = bloom_probe(_urls(spark, 0, 1000), bloom, "url", nb, K)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning(word_idx" in plan
    assert probed.filter("maybe_member = 0").filter(
        "cast(substring_index(url, '/', -1) as int) < 500").count() == 0


def test_sharded_plan_shuffles_are_skinny(spark):
    """The filter-side shuffle must carry only (word_idx, word) —
    (bigint, bigint) pairs — and the word join must be a co-partitioned
    shuffle join, not a broadcast of the (potentially TB-scale)
    filter."""
    seen = _urls(spark, 0, 1000)
    bloom = bloom_build(seen, "url", N_BITS, K)
    probed = bloom_probe(
        _urls(spark, 0, 10), bloom, "url", N_BITS, K, strategy="sharded"
    )
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = probed._jdf.queryExecution().explainString(mode)
    import re

    # per-node sections of the formatted explain carry Input [...]
    exchanges = re.findall(
        r"\(\d+\) (Exchange|BroadcastExchange)\n"
        r"Input \[\d+\]: \[([^\]]*)\]",
        plan,
    )
    assert exchanges, plan
    def cols(s):
        return [c.split("#")[0].strip() for c in s.split(",")]
    # the filter-side shuffle carries exactly two bigint columns
    # (word_idx + the word / its partial bit_or) — never keys or urls
    word_side = [
        c for kind, inp in exchanges
        for c in [cols(inp)]
        if kind == "Exchange" and "word_idx" in c
    ]
    assert word_side, exchanges
    # filter side: exactly (word_idx, word|partial bit_or), no keys
    assert any(
        len(c) == 2 and "__key" not in c and "url" not in c
        for c in word_side
    ), word_side
    # probe side: at most the (key, word_idx, mask) triple
    for c in word_side:
        assert len(c) <= 3 and "url" not in c, c
    # the (potentially TB-scale) word table is never broadcast in the
    # sharded plan (AQE may broadcast the tiny per-key member side)
    for kind, inp in exchanges:
        if kind == "BroadcastExchange":
            assert "word" not in cols(inp), inp


def test_markerless_filter_refused(spark):
    """ADVICE r4: a filter that lost its marker row is unverifiable —
    probing it unchecked would reintroduce silent false negatives."""
    bloom = bloom_build(_urls(spark, 0, 100), "url", N_BITS, K)
    stripped = bloom.filter(F.col("word_idx") >= 0)
    with pytest.raises(ValueError, match="marker"):
        bloom_probe(_urls(spark, 0, 10), stripped, "url", N_BITS, K)


def test_bloom_merge_equals_rebuild(spark):
    """VERDICT r4 #6: incremental maintenance — merging a delta into
    filter(A) must produce bit-for-bit the filter of A ∪ delta, and
    the merged filter stays self-describing (marker preserved)."""
    from fingerprint_spark.operators.bloom import bloom_merge

    a = _urls(spark, 0, 2000)
    delta = _urls(spark, 1500, 2500)            # overlap + new
    merged = bloom_merge(bloom_build(a, "url", N_BITS, K), delta,
                         "url", N_BITS, K)
    rebuilt = bloom_build(a.unionAll(delta), "url", N_BITS, K)
    rm = sorted((r["word_idx"], r["word"]) for r in merged.collect())
    rr = sorted((r["word_idx"], r["word"]) for r in rebuilt.collect())
    assert rm == rr
    # merged filter probes cleanly (marker intact)
    probed = bloom_probe(_urls(spark, 2400, 2500), merged, "url", N_BITS, K)
    assert probed.filter("maybe_member = 0").count() == 0
    # param mismatch on merge refused too
    with pytest.raises(ValueError, match="parameter mismatch"):
        bloom_merge(rebuilt, delta, "url", N_BITS * 2, K)


def test_bloom_filter_persists_as_snapshot_table(spark, tmp_path):
    """The filter is a plain DataFrame -> persist it through the
    snapshot layer; cycle k+1 reads filter(k), merges its delta,
    commits filter(k+1) — cost scales with the delta, never the
    corpus."""
    from fingerprint_spark.operators.bloom import bloom_merge
    from fingerprint_spark.snapshots import commit_snapshot, read_snapshot

    t = str(tmp_path / "frontier_filter")
    f0 = bloom_build(_urls(spark, 0, 1000), "url", N_BITS, K)
    commit_snapshot(f0, t)
    f1 = bloom_merge(read_snapshot(spark, t), _urls(spark, 1000, 1200),
                     "url", N_BITS, K)
    commit_snapshot(f1, t, mode="overwrite")
    final = read_snapshot(spark, t)
    probed = bloom_probe(_urls(spark, 0, 1200), final, "url", N_BITS, K)
    assert probed.filter("maybe_member = 0").count() == 0
