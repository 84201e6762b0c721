"""Acceptance rule-pack parity audit — the engine's hardest end-to-end
test of rule semantics and content-hash stability.

Models the reference's shipped-rule acceptance suite
(tests/bdc_html_family_rules.rs:1-396 + tests/fixtures/html/
inventory.json + tests/html_parity_audit.rs): a parent gate over
multi-page holdings schedules, five look-alike child families
disambiguated by layout width + header tokens (including negated
tokens), ambiguity-trap / malformed / empty negatives, and hash-pair
triplets proving the content hash is markup-invariant but
value-sensitive.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl.registry import Registry
from fingerprint_spark.parse import parse_html_col
from fingerprint_spark.pipeline import revalidate

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "html")
RULES_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "rules")

PACK_IDS = [
    "soi-pack.v1",
    "soi-pack-alder.v1",
    "soi-pack-birch.v1",
    "soi-pack-cedar.v1",
    "soi-pack-dorian.v1",
    "soi-pack-elm.v1",
]

FAMILY_CASES = [
    ("soi_alder_like", "soi-pack-alder.v1"),
    ("soi_birch_like", "soi-pack-birch.v1"),
    ("soi_cedar_like", "soi-pack-cedar.v1"),
    ("soi_dorian_like", "soi-pack-dorian.v1"),
    ("soi_elm_like", "soi-pack-elm.v1"),
]

NEGATIVES = [
    "generic_holdings_schedule",
    "ambiguity_trap_dual_headers",
    "minimal_empty_shell",
    "malformed_static_schedule",
]


def _fixture(fid: str) -> str:
    with open(os.path.join(FIXTURES, f"{fid}.html")) as f:
        return f.read()


@pytest.fixture(scope="module")
def registry():
    return Registry.load_dir(RULES_DIR)


def _match_df(spark, rules, fixture_ids):
    rows = [(fid, _fixture(fid)) for fid in fixture_ids]
    df = spark.createDataFrame(rows, ["url", "html"])
    df = df.withColumn("parsed", parse_html_col(F.col("html")))
    return revalidate(df, rules)


def test_pack_rules_parse_validate_and_register(registry):
    """Every pack rule file parses, validates, and registers (duplicate
    and orphan checks included) — bdc_rule_files_parse_validate analog."""
    got = {r.fingerprint_id for r in registry.list()}
    assert set(PACK_IDS) <= got
    assert "maint-log.v1" in got
    resolved = registry.resolve(PACK_IDS)
    assert [r.fingerprint_id for r in resolved] == PACK_IDS


def test_parent_matches_families_rejects_negatives(spark, registry):
    """Parent-only run: all five family fixtures match the parent; the
    four shared negatives do not (generic page fails the valuation
    headers, the dual-header trap fails page sections, the empty shell
    and the malformed page fail structure)."""
    rules = registry.resolve(["soi-pack.v1"])
    out = _match_df(spark, rules, [f for f, _ in FAMILY_CASES] + NEGATIVES)
    got = {
        r["url"]: r["m"]
        for r in out.select("url", F.col("fingerprint.matched").alias("m")).collect()
    }
    for fid, _child in FAMILY_CASES:
        assert got[fid] is True, fid
    for fid in NEGATIVES:
        assert got[fid] is False, fid


def test_family_matrix_routes_unique_children_with_hashes(spark, registry):
    """Full-pack matrix: every family fixture resolves to EXACTLY its own
    child (status=selected, never ambiguous), exactly one child matched
    in the children array, the selected child emits a content hash,
    unmatched siblings stay null, and the five hashes are pairwise
    distinct."""
    rules = registry.resolve(PACK_IDS)
    out = _match_df(spark, rules, [f for f, _ in FAMILY_CASES]).collect()
    by_url = {r["url"]: r for r in out}
    hashes = {}
    for fid, child_id in FAMILY_CASES:
        r = by_url[fid]
        assert r["fingerprint"]["matched"] is True
        assert r["fingerprint"]["fingerprint_id"] == "soi-pack.v1"
        assert r["child_routing"]["status"] == "selected", fid
        assert r["child_routing"]["selected_id"] == child_id, fid
        matched_children = [c for c in r["children"] if c["matched"]]
        assert len(matched_children) == 1, fid
        assert matched_children[0]["fingerprint_id"] == child_id
        assert r["child_content_hash"] and r["child_content_hash"].startswith(
            "md5:"
        ), fid
        hashes[fid] = r["child_content_hash"]
    assert len(set(hashes.values())) == len(hashes), hashes


def test_diagnose_mismatch_keeps_sibling_payloads(spark, registry):
    """With the alder child REMOVED from the requested set, the alder
    fixture routes no_child_match and all four failed siblings keep
    their payloads (rule-authoring context) — diagnose-mismatch analog."""
    rules = registry.resolve([i for i in PACK_IDS if i != "soi-pack-alder.v1"])
    r = _match_df(spark, rules, ["soi_alder_like"]).first()
    assert r["fingerprint"]["matched"] is True   # parent still matches
    assert r["child_routing"]["status"] == "no_child_match"
    assert len(r["children"]) == 4
    assert all(not c["matched"] for c in r["children"])


def test_hash_pair_triplets(spark, registry):
    """Content-hash stability: base == markup-variant (spans/sections/
    tbody wrappers normalize away), value-change differs (the text_match
    capture moves from 3.75% to 4.25%). Extracted text is byte-identical
    between base and markup variant."""
    rules = registry.resolve(["maint-log.v1"])
    ids = ["hash_pair_base", "hash_pair_markup_variant", "hash_pair_value_change"]
    out = _match_df(spark, rules, ids)
    rows = {
        r["url"]: r
        for r in out.select(
            "url", "fingerprint", "content_hash",
            F.col("parsed.normalized").alias("norm"),
        ).collect()
    }
    for fid in ids:
        assert rows[fid]["fingerprint"]["matched"] is True, fid
        assert rows[fid]["content_hash"].startswith("md5:")
    assert rows["hash_pair_base"]["norm"] == rows["hash_pair_markup_variant"]["norm"]
    assert (
        rows["hash_pair_base"]["content_hash"]
        == rows["hash_pair_markup_variant"]["content_hash"]
    )
    assert (
        rows["hash_pair_base"]["content_hash"]
        != rows["hash_pair_value_change"]["content_hash"]
    )


def test_fixture_structure_matches_inventory(spark):
    """Structural parse counts (headings / tables / page sections) match
    the committed inventory for every fixture — the html_parity_audit
    analog, including the malformed page DEGRADING (implied tag closure)
    rather than vanishing."""
    from fingerprint_spark.parse.html_parser import parse_html

    inv = json.load(open(os.path.join(FIXTURES, "inventory.json")))
    assert inv["schema_version"] == "fingerprint-spark.html-fixtures.v1"
    assert len(inv["fixtures"]) == 12
    for f in inv["fixtures"]:
        o = parse_html(_fixture(f["id"]))
        assert o["parse_error"] is None, f["id"]
        got = (
            len(o["headings"]),
            len(o["tables"]),
            o["page_sections"],
        )
        want = (
            f["expected_headings"],
            f["expected_tables"],
            f["expected_pages"],
        )
        assert got == want, f"{f['id']}: parsed {got}, inventory {want}"
