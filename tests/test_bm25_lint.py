"""Lint the package for a second BM25 definition.

WAND's and LocalBM25's pruning bounds (``max_impact``) are written when
the posting blocks are built; a scorer that could run with other k1/b
values would prune on bounds of a different score and silently lose
exactness. So BM25's parameters are constants of ``operators/bm25.py``
and no public function takes them, or the other two WAND build/serve
knobs, as arguments. ``oracle.py`` and ``sql.py`` are the independent
references the tests compare against and keep their own copies.
Pure AST: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "fulltextsearchengine_spark"
REFERENCES = {"oracle.py", "sql.py"}
BANNED_ARGS = {"k1", "b", "seed_blocks", "group_range"}
# modules allowed to spell out the BM25 saturation K1 + 1
SATURATION_HOMES = {"bm25.py", "bm25f.py"} | REFERENCES


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def _public(name: str) -> bool:
    return not name.startswith("_") or name == "__init__"


def _name(node) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return ""


def _is_saturation(node) -> bool:
    """``<…k1> + 1`` in either order, whatever the spelling of k1."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)):
        return False
    for a, c in ((node.left, node.right), (node.right, node.left)):
        if _name(a).lower().endswith("k1") and isinstance(c, ast.Constant) and c.value == 1:
            return True
    return False


def test_no_public_function_takes_bm25_knobs():
    bad = []
    for path, tree in _modules():
        if path.name in REFERENCES:
            continue
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and _public(node.name):
                a = node.args
                params = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                for p in sorted(params & BANNED_ARGS):
                    bad.append(f"{path.relative_to(PKG)}:{node.lineno} {node.name}({p}=)")
    assert not bad, "BM25 parameters are constants of operators/bm25.py: " + ", ".join(bad)


def test_saturation_defined_only_in_bm25_modules():
    homes = {}
    for path, tree in _modules():
        for node in ast.walk(tree):
            if _is_saturation(node):
                homes.setdefault(path.name, []).append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert "bm25.py" in homes  # the matcher still finds the one definition
    stray = [loc for name, locs in homes.items() if name not in SATURATION_HOMES for loc in locs]
    assert not stray, "K1 + 1 outside the BM25 modules: " + ", ".join(stray)
