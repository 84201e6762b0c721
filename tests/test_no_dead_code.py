"""Guard against dead code anywhere in the package.

A top-level definition of ``fingerprint_spark/`` (function, class or
module constant) is live when a production path reaches it. The roots
are every other module-level statement of the package except imports
and ``__all__``, every statement of the production entry points
(``scripts/``, ``bench.py``, ``bench_extra.py``, ``qfbench/`` except its
smoke test, and ``__spark_entry__.py``) and the two allowlists below.
A module-level import or an ``__all__`` entry is not a caller: a name
that only a package re-export mentions is dead. Reachability is
transitive: the body of a live definition makes the names it uses live,
so a helper that only dead code calls is dead too.

References are matched by name: a ``Name``, an attribute name, a name a
function body imports, or a string constant that is one identifier.

Run ``python tests/test_no_dead_code.py`` to print the dead definitions
with their line counts.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "fingerprint_spark"
ENTRY_POINTS = (
    ROOT / "scripts",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "qfbench",
    ROOT / "__spark_entry__.py",
)
NOT_PRODUCTION = {ROOT / "qfbench" / "test_smoke.py"}
TESTS = ROOT / "tests"

# Reference twins: only tests call them, by design. Each pins the
# production code named in its comment, and a test must call it.
REFERENCE_TWINS = (
    "score_text",  # score_text_fast_fn and the fixed-point ppl UDF
    "simhash64_py",  # the batch shingle kernel's simhash
    "minhash_signature_py",  # the batch shingle kernel's minhash
    "_shingle_hashes64",  # shingle_hashes_batch, per document
    "sketch_md5_py",  # _sketch_md5_batch, the portable md5 sketch
    "_near_match",  # text_near, the Column form of the TextNear assertion
    "_decode_grid_projection",  # q_xlsx_decode's fused decode UDF
)

# Reference capabilities SURVEY.md cites that no CLI mode exposes yet,
# kept until they are wired into a mode or dropped.
LIBRARY_API = (
    "apply_match",  # rule-engine match pass; test_acceptance_pack pins it
    "apply_extracts",  # rule-engine winner extraction; test_acceptance_pack
    "outcome_fold",  # rule-engine outcome fold; test_acceptance_pack
    "compile_extract",  # rule-engine extraction; test_acceptance_pack
    "extract_table",  # rule-engine table extraction; test_acceptance_pack
    "extract_range",  # rule-engine range extraction; test_acceptance_pack
    "content_hash_for_rule",  # rule-engine content hash; test_acceptance_pack
    "infer_schema_rule",  # SURVEY §3.3 infer-schema
    "locate_field",  # SURVEY §3.3 infer-schema: where a field sits
    "_generalize_value",  # SURVEY §3.3 infer-schema: value -> pattern
    "hybrid_search",  # SURVEY hybrid-search/RRF rows (operators/search.py)
    "support_for_query",  # SURVEY hybrid-search rows (operators/search.py)
    "parse_by_format",  # format dispatch (md/csv/pdf); ARCHITECTURE.md, --describe
    "read_manifest",  # SURVEY §1.1 record model: manifest validation
    "load_text_paths",  # SURVEY §1.1 record model: manifest text loading
    "stream_quality_filter",  # streaming/pipeline.py row of the module map
    "streaming_dedup",  # streaming/pipeline.py row of the module map
    "stream_decontaminate",  # streaming/pipeline.py row of the module map
    "stream_metrics_by_window",  # streaming/pipeline.py row of the module map
    "write_bucketed",  # bucketed layout (sources/bucketed.py); test_sources
    "colocated_join",  # shuffle-free join on that layout; test_sources
)

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(paths) -> list[Path]:
    files: list[Path] = []
    for p in paths:
        found = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        files += [f for f in found if f not in NOT_PRODUCTION]
    return files


def _names_used(node: ast.AST) -> set[str]:
    """Names a subtree refers to."""
    used: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            used.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            used.add(sub.attr)
        elif isinstance(sub, ast.alias):
            used.add(sub.name.rsplit(".", 1)[-1])
        elif (
            isinstance(sub, ast.Constant)
            and isinstance(sub.value, str)
            and _IDENT.fullmatch(sub.value)
        ):
            used.add(sub.value)
    return used


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines, or [] when it is a root."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets
        if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    )
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    if not names or len(names) != len(targets):
        return []
    if any(n.startswith("__") for n in names):
        return []
    return names


def _is_root(stmt: ast.stmt) -> bool:
    """A module-level statement whose names count as used."""
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return False
    return not (
        isinstance(stmt, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets)
    )


def _scan():
    """(definitions, root names): definitions maps a name to a list of
    (file, line count, names its statement uses)."""
    defs: dict[str, list[tuple[Path, int, set[str]]]] = {}
    roots: set[str] = set()
    for path in _py_files([PACKAGE]):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for stmt in tree.body:
            names = _defined_names(stmt)
            if not names:
                if _is_root(stmt):
                    roots |= _names_used(stmt)
                continue
            lines = stmt.end_lineno - stmt.lineno + 1
            if getattr(stmt, "decorator_list", None):
                lines += stmt.lineno - stmt.decorator_list[0].lineno
            for name in names:
                defs.setdefault(name, []).append((path, lines, _names_used(stmt)))
    for path in _py_files(ENTRY_POINTS):
        roots |= _names_used(ast.parse(path.read_text(encoding="utf-8")))
    return defs, roots


def dead_definitions() -> list[tuple[str, str, int]]:
    """(module path, name, lines) of every unreachable definition."""
    defs, roots = _scan()
    live: set[str] = set()
    todo = list(roots | set(REFERENCE_TWINS) | set(LIBRARY_API))
    while todo:
        name = todo.pop()
        if name in live:
            continue
        live.add(name)
        for _path, _lines, used in defs.get(name, ()):
            todo.extend(used - live)
    return sorted(
        (str(path.relative_to(ROOT)), name, lines)
        for name, sites in defs.items()
        if name not in live
        for path, lines, _used in sites
    )


def test_package_has_no_dead_code():
    dead = dead_definitions()
    listing = "\n".join(f"  {p}:{n} ({k} lines)" for p, n, k in dead)
    assert not dead, (
        f"{len(dead)} definitions no production path reaches "
        f"({sum(k for *_, k in dead)} lines):\n{listing}"
    )


def test_allowlists_name_existing_definitions():
    defs, _roots = _scan()
    missing = sorted((set(REFERENCE_TWINS) | set(LIBRARY_API)) - set(defs))
    assert not missing, f"allowlisted names not defined in the package: {missing}"


def test_reference_twins_are_called_by_tests():
    called: set[str] = set()
    for path in _py_files([TESTS]):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call):
                f = node.func
                called.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", ""))
    unused = sorted(set(REFERENCE_TWINS) - called)
    assert not unused, f"reference twins no test calls: {unused}"


if __name__ == "__main__":
    rows = dead_definitions()
    for p, n, k in rows:
        print(f"{p}:{n}\t{k}")
    print(f"{len(rows)} dead definitions, {sum(k for *_, k in rows)} lines")
