"""Guard against dead code anywhere in the package.

A top-level definition of ``fingerprint_spark/`` (function, class or
module constant) is live when a production path reaches it. The roots
are every other module-level statement of the package except imports
and ``__all__``, every statement of the production entry points
(``scripts/``, ``bench.py``, ``bench_extra.py``, ``qfbench/`` except its
smoke test, and ``__spark_entry__.py``) and the ``REFERENCE_TWINS``
allowlist below.
A module-level import or an ``__all__`` entry is not a caller: a name
that only a package re-export mentions is dead. Reachability is
transitive: the body of a live definition makes the names it uses live,
so a helper that only dead code calls is dead too.

References are matched by name: a ``Name``, an attribute name, a name a
function body imports, or a string constant that is one identifier.

A second check covers parameters: every parameter of a package function
(methods and nested functions included) must be read by its body, save
the commented allowlist ``UNREAD_PARAMS``.

A third check covers options: every defaulted parameter of a package
function must be supplied, by keyword or by position, at some call site
in the package, the entry points or ``tests/``, save the commented
allowlist ``UNSET_OPTIONS``. An option no caller sets is a constant.
Calls are matched by name: ``f(...)`` to functions, ``x.f(...)`` to
methods and functions, a class call to its ``__init__``; a call that
passes ``*args`` or ``**kwargs`` supplies every parameter.

Run ``python tests/test_no_dead_code.py`` to print the dead definitions
with their line counts, the unread parameters and the unset options.
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

# Reference twins: only tests call them, by design (score_text also
# scores non-ASCII text for a model that holds a non-ASCII gram). Each
# pins the production code named in its comment, a faster kernel with
# the same output, and a test must call it.
REFERENCE_TWINS = (
    "parse_html_stdlib",  # parse_html's single-pass scanner (_scan)
    "score_text",  # score_text_fast_fn and the fixed-point ppl UDF
    "simhash64_py",  # the batch shingle kernel's simhash
    "minhash_signature_py",  # the batch shingle kernel's minhash
    "_shingle_hashes64",  # shingle_hashes_batch, per document
    "sketch_md5_py",  # _sketch_md5_batch, the portable md5 sketch
    "_near_match",  # text_near, the Column form of the TextNear assertion
    "_text_match_py",  # extract_text_match, the Column text_match extract
    "_decode_grid_projection",  # q_xlsx_decode's fused decode UDF
    "langid_best",  # marker_langid_batch, by Spark's own split/regex count
    "scrub_text",  # scrub_levels and the guarded scrub_counts
)

# Parameters a signature must keep although the body never reads them,
# as (function, parameter).
UNREAD_PARAMS = {
    ("handle_starttag", "attrs"),  # HTMLParser calls it with (tag, attrs)
    ("release_tracked", "spark"),  # the benchmark harnesses pass the session
}

# Defaulted parameters no call site supplies, as (function, parameter).
UNSET_OPTIONS: set[tuple[str, str]] = set()

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
    todo = list(roots | set(REFERENCE_TWINS))
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
    missing = sorted(set(REFERENCE_TWINS) - set(defs))
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


def unread_parameters() -> list[tuple[str, str, str]]:
    """(module path, function, parameter) of every parameter (``self``
    and ``cls`` aside) whose function body never reads it."""
    found = []
    for path in _py_files([PACKAGE]):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
            params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
            read = {
                n.id
                for stmt in node.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name)
            }
            found += [
                (str(path.relative_to(ROOT)), node.name, p)
                for p in params
                if p not in read and p not in ("self", "cls")
            ]
    return sorted(found)


def test_package_functions_read_every_parameter():
    found = unread_parameters()
    unread = [f for f in found if f[1:] not in UNREAD_PARAMS]
    assert not unread, f"parameters their function never reads: {unread}"
    stale = UNREAD_PARAMS - {f[1:] for f in found}
    assert not stale, f"allowlisted parameters that are read now: {stale}"


def _functions(tree: ast.Module):
    """(qualified name, class name or None, positional offset, node) of
    every function in ``tree``; the class is set for methods only, and
    the offset is 1 where the call omits self/cls."""
    found = []

    def visit(node: ast.AST, cls: str | None, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                offset = int(cls is not None and not static)
                found.append((prefix + child.name, cls, offset, child))
                visit(child, None, f"{prefix}{child.name}.")
            elif isinstance(child, ast.ClassDef):
                visit(child, child.name, f"{prefix}{child.name}.")
            else:
                visit(child, cls, prefix)

    visit(tree, None, "")
    return found


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None when keyword-only, name) of each parameter
    with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _supplies(
    call: ast.Call, offset: int, position: int | None, name: str
) -> bool:
    """Whether ``call`` passes the parameter, by keyword, by position
    (``offset`` skips self/cls) or through ``*args`` / ``**kwargs``."""
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return position is not None and 0 <= position - offset < len(call.args)


def unset_options() -> list[tuple[str, str, str]]:
    """(module path, function, parameter) of every defaulted parameter
    of a package function that no call site supplies."""
    by_name: dict[str, list[ast.Call]] = {}
    by_attr: dict[str, list[ast.Call]] = {}
    for path in _py_files([PACKAGE, *ENTRY_POINTS, TESTS]):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, ast.Name):
                    by_name.setdefault(f.id, []).append(node)
                elif isinstance(f, ast.Attribute):
                    by_attr.setdefault(f.attr, []).append(node)
    found = []
    for path in _py_files([PACKAGE]):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for qual, cls, offset, fn in _functions(tree):
            if cls is None:
                # a function: f(...) or module.f(...)
                calls = by_name.get(fn.name, []) + by_attr.get(fn.name, [])
            elif fn.name == "__init__":
                calls = by_name.get(cls, []) + by_attr.get(cls, [])
            else:
                calls = by_attr.get(fn.name, [])
            found += [
                (str(path.relative_to(ROOT)), qual, name)
                for position, name in _defaulted(fn)
                if not any(_supplies(c, offset, position, name) for c in calls)
            ]
    return sorted(found)


def test_package_options_are_set():
    found = unset_options()
    unset = [f for f in found if f[1:] not in UNSET_OPTIONS]
    listing = "\n".join(f"  {p}:{f}({a})" for p, f, a in unset)
    assert not unset, (
        f"{len(unset)} defaulted parameters no call site supplies "
        f"(make each a constant):\n{listing}"
    )
    stale = UNSET_OPTIONS - {f[1:] for f in found}
    assert not stale, f"allowlisted options that a call sets now: {stale}"


if __name__ == "__main__":
    rows = dead_definitions()
    for p, n, k in rows:
        print(f"{p}:{n}\t{k}")
    print(f"{len(rows)} dead definitions, {sum(k for *_, k in rows)} lines")
    for p, f, a in unread_parameters():
        print(f"{p}:{f}({a}) unread")
    options = unset_options()
    for p, f, a in options:
        print(f"{p}:{f}({a}) unset")
    print(f"{len(options)} options no call site sets")
