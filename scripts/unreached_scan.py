"""List public package functions and classes that nothing outside their own
definition names: not the package, a script, perfbench, ``bench.py`` or
``__spark_entry__.py``. Tests are not searched, so a name that only its own
tests call is listed.

The catalog modules (``plans/catalog*.py``) are not scanned for definitions:
their entries are reached through the catalog registry. The search is a
word-boundary match, so a name that a docstring or an ``__init__`` export
mentions counts as reached; confirm each hit by hand.

Run from the repo root: ``python scripts/unreached_scan.py``.
"""

import ast
import re
from pathlib import Path

PKG = Path("formula1_etl_analytics_project_spark")
SEARCHED = [PKG, Path("scripts"), Path("perfbench"), Path("bench.py"), Path("__spark_entry__.py")]


def _files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def main() -> None:
    texts = {f: f.read_text() for p in SEARCHED for f in _files(p)}
    for mod in _files(PKG):
        if mod.name.startswith("catalog"):
            continue
        for node in ast.parse(texts[mod]).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)) or node.name.startswith("_"):
                continue
            word = re.compile(rf"\b{node.name}\b")
            refs = [
                f"{f}:{i}"
                for f, text in texts.items()
                for i, line in enumerate(text.splitlines(), 1)
                if word.search(line) and not (f == mod and i == node.lineno)
            ]
            if not refs:
                n = node.end_lineno - node.lineno + 1
                print(f"{mod}:{node.lineno} {node.name} ({n} lines)")


if __name__ == "__main__":
    main()
