"""Guard against dead code regrowing in the signal modules.

Every top-level function of functions/hashing.py and
functions/perplexity.py must be referenced (imported, called or read as
an attribute) somewhere in the package or the scripts, outside its own
definition. A function that only tests reach is dead code: delete it,
or name it in REFERENCE_TWINS when it is the pinned pure-Python twin of
a production kernel.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MODULES = (
    ROOT / "fingerprint_spark" / "functions" / "hashing.py",
    ROOT / "fingerprint_spark" / "functions" / "perplexity.py",
)
SEARCH_DIRS = (ROOT / "fingerprint_spark", ROOT / "scripts")

# Pure-Python reference twins: only tests call them, by design. Each
# pins a production kernel bit for bit.
REFERENCE_TWINS = (
    "score_text",  # score_text_fast_fn and the fixed-point ppl UDF
    "simhash64_py",  # the batch shingle kernel's simhash
    "minhash_signature_py",  # the batch shingle kernel's minhash
    "_shingle_hashes64",  # shingle_hashes_batch, per document
    "sketch_md5_py",  # _sketch_md5_batch, the portable md5 sketch
)


def _top_level_defs(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(encoding="utf-8"))
    return [
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def _referenced_names(path: Path) -> set[str]:
    """Names a file refers to, leaving out the bodies of its own
    top-level functions that refer to themselves (recursion)."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    names: set[str] = set()

    def visit(node, own: str | None):
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                name = sub.id
            elif isinstance(sub, ast.Attribute):
                name = sub.attr
            elif isinstance(sub, ast.alias):
                name = sub.name.rsplit(".", 1)[-1]
            else:
                continue
            if name != own:
                names.add(name)

    for node in tree.body:
        own = (
            node.name
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            else None
        )
        visit(node, own)
    return names


def test_signal_modules_have_no_dead_functions():
    referenced: set[str] = set()
    for d in SEARCH_DIRS:
        for path in sorted(d.rglob("*.py")):
            referenced |= _referenced_names(path)
    dead = [
        f"{path.name}:{name}"
        for path in MODULES
        for name in _top_level_defs(path)
        if name not in REFERENCE_TWINS and name not in referenced
    ]
    assert not dead, f"functions no production code reaches: {dead}"
