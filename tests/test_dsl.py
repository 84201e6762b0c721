"""DSL parser/validator/registry tests — the refusal-path coverage model
(reference tests/refusal_path_coverage.rs: every E_* code reachable)."""

from pathlib import Path

import pytest

from fingerprint_spark.dsl.model import make_clause, FingerprintDefinition
from fingerprint_spark.dsl.parser import ParseError, parse_yaml
from fingerprint_spark.dsl.registry import Registry, RegistryError, builtin_rules
from fingerprint_spark.dsl.validate import ValidationError, validate_definition


GOOD = """
fingerprint_id: demo.v1
format: html
assertions:
  - heading_regex:
      pattern: "Report"
  - name: named_one
    text_contains:
      value: "hello"
  - heading_regex:
      pattern: "Other"
"""


def test_parse_and_autonaming():
    d = parse_yaml(GOOD)
    names = [a.name for a in d.assertions]
    # deterministic auto-naming with dedup counters (parser.rs:53-72)
    assert names == ["heading_regex", "named_one", "heading_regex_2"]
    assert d.source_hash.startswith("md5:")
    assert d.version == "v1"


def test_parse_determinism():
    assert parse_yaml(GOOD).source_hash == parse_yaml(GOOD).source_hash


def test_unknown_assertion_is_hard_error():
    with pytest.raises(ParseError) as e:
        parse_yaml(GOOD.replace("heading_regex", "not_an_assertion"))
    assert e.value.code == "E_UNKNOWN_ASSERTION"


def test_missing_field():
    with pytest.raises(ParseError) as e:
        parse_yaml("format: html\nassertions: []\n")
    assert e.value.code == "E_MISSING_FIELD"


def test_invalid_yaml():
    with pytest.raises(ParseError) as e:
        parse_yaml(": not valid : yaml : [")
    assert e.value.code == "E_INVALID_YAML"
    # well-formed YAML of the wrong shape is refused the same way
    for bad in ("assertions: 5",
                "assertions: [{text_regex: {pattern: x}}]\n"
                "extract: [{name: e, section: [1, 2]}]"):
        with pytest.raises(ParseError) as e:
            parse_yaml(f"fingerprint_id: x.v1\nformat: html\n{bad}\n")
        assert e.value.code == "E_INVALID_YAML"


def test_validate_format_whitelist():
    d = parse_yaml(GOOD.replace("format: html", "format: docx"))
    with pytest.raises(ValidationError) as e:
        validate_definition(d)
    assert e.value.code == "E_INVALID_YAML"


def test_validate_html_only_gating():
    bad = """
fingerprint_id: x.v1
format: markdown
assertions:
  - dominant_column_count:
      expected: 3
"""
    with pytest.raises(ValidationError):
        validate_definition(parse_yaml(bad))


def test_validate_missing_params():
    bad = """
fingerprint_id: x.v1
format: html
assertions:
  - heading_level:
      pattern: "x"
"""
    with pytest.raises(ValidationError) as e:
        validate_definition(parse_yaml(bad))
    assert e.value.code == "E_MISSING_FIELD"


def test_validate_content_hash_refs():
    bad = """
fingerprint_id: x.v1
format: html
assertions:
  - text_regex: {pattern: "x"}
extract:
  - name: s1
    section: {heading_pattern: "A"}
content_hash:
  over: [nonexistent]
"""
    with pytest.raises(ValidationError):
        validate_definition(parse_yaml(bad))


def test_validate_refuses_non_html_rule_language():
    """html is the one rule format: the reference's other formats, its
    spreadsheet and pdf assertions and its range extract are refused
    before any plan is built."""
    rule = """
fingerprint_id: x.v1
format: {fmt}
assertions:
  - {assertion}
{extract}"""
    text = 'text_regex: {pattern: "x"}'
    for fmt in ("xlsx", "csv", "pdf", "markdown", "text"):
        d = parse_yaml(rule.format(fmt=fmt, assertion=text, extract=""))
        with pytest.raises(ValidationError, match="not in whitelist") as e:
            validate_definition(d)
        assert e.value.code == "E_INVALID_YAML"
    for assertion in ('cell_eq: {sheet: "S", cell: "A1", value: "x"}',
                      "page_count: {min_pages: 1, max_pages: 2}"):
        with pytest.raises(ParseError) as e:
            parse_yaml(rule.format(fmt="html", assertion=assertion, extract=""))
        assert e.value.code == "E_UNKNOWN_ASSERTION"
    with pytest.raises(ValidationError) as e:
        validate_definition(FingerprintDefinition(
            fingerprint_id="x.v1", format="html",
            assertions=(make_clause("sheet_exists", "a", {"sheet": "S"}),),
        ))
    assert e.value.code == "E_UNKNOWN_ASSERTION"
    extract = 'extract:\n  - name: r1\n    range: {sheet: "S", range: "A1:B2"}\n'
    with pytest.raises(ParseError, match="unknown extract type") as e:
        parse_yaml(rule.format(fmt="html", assertion=text, extract=extract))
    assert e.value.code == "E_INVALID_YAML"


def test_validate_text_match_extract(spark):
    """text_match patterns are checked like text_near's, by the
    executing engine (hence the spark fixture): a pattern that does not
    compile or can match the empty string is refused, and so is a
    missing anchor or value."""
    rule = """
fingerprint_id: x.v1
format: html
assertions:
  - text_regex: {{pattern: "x"}}
extract:
  - name: m
    text_match: {{{params}}}
"""
    validate_definition(parse_yaml(rule.format(params='anchor: "Total:", value: "[0-9]+"')))
    for params, match in (('anchor: "(", value: "[0-9]+"', "does not compile"),
                          ('anchor: "Total:", value: "[0-9]*"', "empty string")):
        with pytest.raises(ValidationError, match=match) as e:
            validate_definition(parse_yaml(rule.format(params=params)))
        assert e.value.code == "E_INVALID_YAML"
    with pytest.raises(ValidationError) as e:
        validate_definition(parse_yaml(rule.format(params='anchor: "Total:"')))
    assert e.value.code == "E_MISSING_FIELD"


def test_registry_duplicate_refusal():
    reg = Registry(builtin_rules())
    with pytest.raises(RegistryError) as e:
        reg.register(reg.get("spam_pharma.v1"))
    assert e.value.code == "E_DUPLICATE_FP_ID"


def test_registry_unknown_fp():
    with pytest.raises(RegistryError) as e:
        Registry(builtin_rules()).get("nope.v9")
    assert e.value.code == "E_UNKNOWN_FP"


def test_registry_orphan_child():
    reg = Registry(builtin_rules())
    with pytest.raises(RegistryError) as e:
        reg.resolve(["spam_cta.v1"])  # child without its parent
    assert e.value.code == "E_ORPHAN_CHILD"
    # with the parent present it resolves in order
    defs = reg.resolve(["spam_pharma.v1", "spam_cta.v1"])
    assert [d.fingerprint_id for d in defs] == ["spam_pharma.v1", "spam_cta.v1"]


def test_registry_trust_allowlist(tmp_path):
    f = tmp_path / "custom.fp.yaml"
    f.write_text(GOOD)
    with pytest.raises(RegistryError) as e:
        Registry.load_dir(tmp_path, trusted_globs=["other*.fp.yaml"])
    assert e.value.code == "E_UNTRUSTED_FP"
    reg = Registry.load_dir(tmp_path, trusted_globs=["custom*.fp.yaml"])
    assert reg.get("demo.v1").source.endswith("custom.fp.yaml")


def test_registry_deterministic_listing():
    reg = Registry(builtin_rules())
    ids = [d.fingerprint_id for d in reg.list()]
    assert ids == sorted(ids)


# one bad parameter each: a string where an int, a list or a cell type
# belongs, an index below 0, a misspelt or unknown key
BAD_PARAMS = [
    ("assertions", "heading_level: {level: x, pattern: A}"),
    ("assertions", "heading_level: {level: 7, pattern: A}"),
    ("assertions", "table_min_rows: {min_rows: x}"),
    ("assertions", "table_min_rows: {min_rows: true}"),
    ("assertions", "text_near: {anchor: A, value: B, within_chars: '40'}"),
    ("assertions", "text_contains: {value: 5}"),
    ("assertions", "table_columns: {patterns: abc}"),
    ("assertions", "header_token_search: {tokens: abc, min_matches: 1}"),
    ("assertions", "table_shape: {min_columns: 1, types: number}"),
    ("assertions", "table_shape: {min_columns: 1, types: [numbr]}"),
    ("assertions", "table_min_rows: {min_rows: 1, index: -1}"),
    ("assertions", "table_exists: {index: -1}"),
    ("assertions", "table_exists: {heading_patern: Q}"),
    ("extract", "table: {heading_pattern: A, idx: 1}"),
    ("extract", "table: {heading_pattern: A, index: -1}"),
    ("extract", "text_match: {anchor: A, value: B, within_chars: 4.5}"),
    ("assertions", "table_columns: {patterns: []}"),
    ("assertions", "table_shape: {min_columns: 1, types: []}"),
    ("assertions", "header_token_search: {tokens: [], min_matches: 0}"),
]


def _rule_with(where: str, clause: str) -> str:
    extract = f"extract:\n  - {clause}\n" if where == "extract" else ""
    assertion = clause if where == "assertions" else "text_regex: {pattern: x}"
    return f"fingerprint_id: x.v1\nformat: html\nassertions:\n  - {assertion}\n{extract}"


@pytest.mark.parametrize("where,clause", BAD_PARAMS, ids=[c for _w, c in BAD_PARAMS])
def test_validate_refuses_ill_typed_params(where, clause):
    """Every parameter is checked against its type's spec: kind, bound
    and name. None of these compiles to a working Column (a crash, a
    rule that can never or always match, or a silently ignored key)."""
    with pytest.raises(ValidationError) as e:
        validate_definition(parse_yaml(_rule_with(where, clause)))
    assert e.value.code == "E_INVALID_YAML"


def test_validate_compiles_every_regex(spark):
    """With a JVM up every regex parameter is compiled by
    java.util.regex, lists included; only span patterns (text_near,
    text_match) must not match the empty string."""
    for clause in ("heading_regex: {pattern: '('}",
                   "table_columns: {patterns: [A, '[']}",
                   "header_token_search: {tokens: ['(?<'], min_matches: 1}",
                   "table_exists: {heading_pattern: '*'}"):
        with pytest.raises(ValidationError, match="does not compile") as e:
            validate_definition(parse_yaml(_rule_with("assertions", clause)))
        assert e.value.code == "E_INVALID_YAML"
    for clause in ("heading_regex: {pattern: '.*'}", "table_columns: {patterns: ['']}"):
        validate_definition(parse_yaml(_rule_with("assertions", clause)))


def test_compile_check_without_jvm_refuses_unparsable_regex(tmp_path):
    """Session-free `compile --check` judges a regex with Python re: a
    pattern re cannot parse is refused (E_INVALID_YAML, exit 2) unless it
    holds Java-only syntax, which is accepted with a warning."""
    import subprocess
    import sys

    script = Path(__file__).resolve().parents[1] / "scripts" / "run_pipeline.py"

    def check(clause: str) -> subprocess.CompletedProcess:
        rule = tmp_path / "r.fp.yaml"
        rule.write_text(_rule_with("assertions", clause))
        return subprocess.run(
            [sys.executable, str(script), "compile", str(rule), "--check"],
            capture_output=True, text=True, timeout=120,
        )

    for clause in ("text_regex: {pattern: '('}",
                   "table_columns: {patterns: [A, '[']}",
                   "text_near: {anchor: 'x(', value: B, within_chars: 9}"):
        r = check(clause)
        assert r.returncode == 2, (clause, r.stdout, r.stderr[-800:])
        assert "E_INVALID_YAML" in r.stderr and "does not compile" in r.stderr
    for clause in (r"text_regex: {pattern: '\p{Lu}+'}",
                   r"text_regex: {pattern: '\Q(\E'}",
                   "text_regex: {pattern: 'a++b'}"):
        r = check(clause)
        assert r.returncode == 0, (clause, r.stderr[-800:])
        assert r.stdout.strip() == "OK x.v1"


def test_rule_schema_matches_validation():
    """`compile --schema` is generated from the parameter table: every
    shipped rule passes it, and every ill-typed parameter fails it."""
    import importlib.util

    import jsonschema
    import yaml

    repo = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", repo / "scripts" / "run_pipeline.py"
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    schema = cli._rule_definition_schema()
    jsonschema.Draft202012Validator.check_schema(schema)
    check = jsonschema.Draft202012Validator(schema)
    assert {"extract_section", "extract_table", "extract_text_match"} <= set(schema["$defs"])
    files = sorted((repo / "rules").glob("*.fp.yaml"))
    assert len(files) == 9
    for f in files:
        assert not list(check.iter_errors(yaml.safe_load(f.read_text()))), f.name
    for where, clause in BAD_PARAMS:
        assert list(check.iter_errors(yaml.safe_load(_rule_with(where, clause)))), clause


def test_loaded_rules_hash():
    """List parameters are stored as tuples, so every rule keys the
    pipeline's stage memo."""
    reg = Registry.load_dir(Path(__file__).resolve().parents[1] / "rules")
    assert len(reg.list()) == 14
    for d in reg.list():
        hash(d)
