"""No function without a caller: every top-level function or class in
``sparkharvester/`` is referenced somewhere in the code base.

A reference is an AST ``Name``, an ``Attribute`` or an import of that
name in ``sparkharvester/``, ``tests/``, ``tools/``, ``perfbench/``,
``bench.py``, ``bench_extra.py`` or ``__spark_entry__.py``.  Queries
decorated with ``@register`` are reached through the registry and are
exempt.  The scan is purely syntactic, so a name used only inside its
own body still counts as referenced.
"""
import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED_DIRS = ("sparkharvester", "tests", "tools", "perfbench")
SCANNED_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(f, ast.Name) and f.id == "register"


def test_every_top_level_definition_has_a_reference():
    files = [p for d in SCANNED_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    files += [ROOT / f for f in SCANNED_FILES if (ROOT / f).exists()]
    refs: set[str] = set()
    defs: list[str] = []
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
        if path.parent == ROOT / "sparkharvester":
            defs += [
                f"{path.name}:{node.name}" for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef))
                and not any(_is_register(d) for d in node.decorator_list)
            ]
    assert defs, "the scan found no definitions"
    orphans = [d for d in defs if d.split(":", 1)[1] not in refs]
    assert not orphans, f"defined but never referenced: {orphans}"
