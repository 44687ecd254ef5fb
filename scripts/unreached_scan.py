"""List public package functions and classes that no code outside their own
definition uses: not the package, a script, perfbench, ``bench.py`` or
``__spark_entry__.py``. Names that only the tests use are listed apart.

A use is a name in the code itself: an ``ast.Name``, the attribute of an
``ast.Attribute``, or a name imported with ``from ... import``. Docstrings,
comments and string constants (catalog entry names, error messages) are not
uses, nor is a use inside the definition's own span, nor a re-export in a
package ``__init__.py``. The match is by name, not by binding, so two
definitions with the same name reach each other; confirm each hit by hand.

The catalog modules (``plans/catalog*.py``) are not scanned for definitions:
their entries are reached through the catalog registry.

Run from the repo root: ``python scripts/unreached_scan.py``.
"""

import ast
from collections import defaultdict
from pathlib import Path

PKG = Path("formula1_etl_analytics_project_spark")
SEARCHED = [PKG, Path("scripts"), Path("perfbench"), Path("bench.py"), Path("__spark_entry__.py")]
TESTS = Path("tests")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _uses(trees: dict[Path, ast.Module]) -> dict[str, list[tuple[Path, int]]]:
    """name -> every (file, line) that uses it in code."""
    uses = defaultdict(list)
    for f, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                uses[node.id].append((f, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses[node.attr].append((f, node.lineno))
            elif isinstance(node, ast.ImportFrom) and f.name != "__init__.py":
                for alias in node.names:
                    uses[alias.name].append((f, node.lineno))
    return uses


def _used_outside(refs, mod: Path, node: ast.AST) -> bool:
    return any(not (f == mod and node.lineno <= i <= node.end_lineno) for f, i in refs)


def main() -> None:
    trees = {f: ast.parse(f.read_text()) for p in SEARCHED for f in _files(p)}
    code_uses = _uses(trees)
    test_uses = _uses({f: ast.parse(f.read_text()) for f in _files(TESTS)})
    unreached, test_only = [], []
    for mod in _files(PKG):
        if mod.name.startswith("catalog"):
            continue
        for node in trees[mod].body:
            if not isinstance(node, DEFS) or node.name.startswith("_"):
                continue
            if _used_outside(code_uses[node.name], mod, node):
                continue
            n = node.end_lineno - node.lineno + 1
            line = f"{mod}:{node.lineno} {node.name} ({n} lines)"
            (test_only if test_uses[node.name] else unreached).append(line)
    for title, lines in (("unreached", unreached), ("used only by tests", test_only)):
        print(f"{title} ({len(lines)}):")
        for line in lines:
            print(f"  {line}")


if __name__ == "__main__":
    main()
