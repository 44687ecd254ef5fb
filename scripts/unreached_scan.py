"""List public package functions and classes that no code outside their own
definition uses: not the package, a script, perfbench, ``bench.py`` or
``__spark_entry__.py``. Names that only the tests use are listed apart.
Then list the settable values that configure nothing and the dataclass
fields that nothing reads (see below).

A use is a name in the code itself: an ``ast.Name``, the attribute of an
``ast.Attribute``, or a name imported with ``from ... import``. Docstrings,
comments and string constants (catalog entry names, error messages) are not
uses, nor is a use inside the definition's own span, nor a re-export in a
package ``__init__.py``. The match is by name, not by binding, so two
definitions with the same name reach each other; confirm each hit by hand.

The catalog modules (``plans/catalog*.py``) are not scanned for definitions:
their entries are reached through the catalog registry.

Settable values are the defaulted parameters of every package function,
catalog modules and nested functions included. For each one, every call of
a function with that name outside the tests gives the value it passes,
positionally or by keyword (the source text of the argument, or the default
when it is left out). A parameter whose calls all pass one value is listed:
under "no caller sets another value" when no test call passes another value
either, else under "only tests set another value" with those test files. A
call through ``*args`` or ``**kwargs`` counts as a second value. A call
through a reference (``BUILDERS[name](wide)``) is not seen, and a function
that no code calls by name counts as passing its defaults.

Unread fields are the annotated fields of package dataclasses (catalog
modules included) that no ``ast.Attribute`` load reads outside the class's
own span, over the same file list. Again the match is by attribute name, so
a common name (``name``) is read by any ``x.name``. A field that only the
tests read is listed with those test files.

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


def _calls(trees: dict[Path, ast.Module]) -> dict[str, list[tuple[Path, ast.Call]]]:
    """name -> every (file, call) that calls a function by that name."""
    calls = defaultdict(list)
    for f, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                if isinstance(fn, ast.Name):
                    calls[fn.id].append((f, node))
                elif isinstance(fn, ast.Attribute):
                    calls[fn.attr].append((f, node))
    return calls


def _defaulted(fn: ast.FunctionDef):
    """(name, positional index or None, default) per defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    for i, d in enumerate(a.defaults, first):
        yield pos[i].arg, i, d
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield arg.arg, None, d


def _passed(call: ast.Call, name: str, index: int | None, default: ast.expr) -> str | None:
    """Source text of the value ``call`` gives the parameter; None if unknown."""
    for kw in call.keywords:
        if kw.arg == name:
            return ast.unparse(kw.value)
        if kw.arg is None:
            return None
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return None
        if i == index:
            return ast.unparse(arg)
    return ast.unparse(default)


def _settable(trees, code_calls, test_calls) -> tuple[int, list[str], list[str]]:
    total, unset, test_set = 0, [], []
    for mod in _files(PKG):
        for fn in ast.walk(trees[mod]):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for name, index, default in _defaulted(fn):
                total += 1
                values = {_passed(c, name, index, default) for _, c in code_calls[fn.name]}
                values = values or {ast.unparse(default)}
                if len(values) > 1 or None in values:
                    continue
                tests = test_calls[fn.name]
                others = sorted(
                    {str(f) for f, c in tests if _passed(c, name, index, default) not in values}
                )
                line = f"{mod}:{fn.lineno} {fn.name}.{name} = {values.pop()}"
                if others:
                    test_set.append(f"{line} ({', '.join(others)})")
                else:
                    unset.append(line)
    return total, unset, test_set


def _is_dataclass(cls: ast.ClassDef) -> bool:
    for d in cls.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if getattr(d, "id", getattr(d, "attr", None)) == "dataclass":
            return True
    return False


def _loads(trees: dict[Path, ast.Module]) -> dict[str, list[tuple[Path, int]]]:
    """attribute name -> every (file, line) that reads it."""
    loads = defaultdict(list)
    for f, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                loads[node.attr].append((f, node.lineno))
    return loads


def _unread_fields(trees, test_trees) -> list[str]:
    code_loads, test_loads = _loads(trees), _loads(test_trees)
    unread = []
    for mod in _files(PKG):
        for cls in ast.walk(trees[mod]):
            if not isinstance(cls, ast.ClassDef) or not _is_dataclass(cls):
                continue
            for stmt in cls.body:
                if not (isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name)):
                    continue
                name = stmt.target.id
                if _used_outside(code_loads[name], mod, cls):
                    continue
                line = f"{mod}:{stmt.lineno} {cls.name}.{name}"
                tests = sorted({str(f) for f, _ in test_loads[name]})
                unread.append(f"{line} (read by {', '.join(tests)})" if tests else line)
    return unread


def _used_outside(refs, mod: Path, node: ast.AST) -> bool:
    return any(not (f == mod and node.lineno <= i <= node.end_lineno) for f, i in refs)


def main() -> None:
    trees = {f: ast.parse(f.read_text()) for p in SEARCHED for f in _files(p)}
    test_trees = {f: ast.parse(f.read_text()) for f in _files(TESTS)}
    code_uses, test_uses = _uses(trees), _uses(test_trees)
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
    total, unset, test_set = _settable(trees, _calls(trees), _calls(test_trees))
    for title, lines in (
        ("unreached", unreached),
        ("used only by tests", test_only),
        (f"settable values: {total} defaulted parameters; no caller sets another value", unset),
        ("settable values: only tests set another value", test_set),
        ("fields nothing reads", _unread_fields(trees, test_trees)),
    ):
        print(f"{title} ({len(lines)}):")
        for line in lines:
            print(f"  {line}")


if __name__ == "__main__":
    main()
