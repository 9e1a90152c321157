"""Every public package definition has a caller outside the tests.

Parses the source with ``ast`` (no Spark session) and collects, for each
public top-level function, class or constant in ``dbt_repo_spark/``, the
names used anywhere in the product: the package itself,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``tools/``. A
definition counts as referenced when its name appears outside its own
definition as a name, an attribute or an import. Strings never count, so
a name in a docstring, a comment or a registry key is no call.
Re-exports in ``__init__.py`` (its imports and ``__all__``) do not count,
and neither does anything under ``tests/``. Definitions decorated with a
registering decorator (``@q`` for the query registry, ``@model`` for the
DAG) are reached through their registry.

Public methods of the package's public classes are checked the same way
by name. Methods of a class that subclasses a non-package base are exempt
(Spark calls a data source's ``simpleStreamReader`` and a listener's
hooks), and so are the methods of an allow-listed class.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "dbt_repo_spark"
REGISTERING = {"q", "model"}

ALLOWED = {
    "read_json_file": "SURVEY component S3 (single multiline JSON file read)",
    "ProgressRecorder": "ROADMAP item 5 attaches it to the stream and crawl CLIs",
}


def _product_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("perfbench", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _is_reexport(node: ast.stmt) -> bool:
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return True
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _names(node: ast.AST) -> Counter:
    """Names, attributes and imports under ``node``."""
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
            if n.asname:
                out[n.asname] += 1
    return out


def _registered(node: ast.stmt) -> bool:
    for dec in getattr(node, "decorator_list", []):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id in REGISTERING:
            return True
    return False


def _public(node: ast.stmt) -> list[str]:
    """The public names a top-level statement defines: an unregistered
    function or class, or the targets of a constant assignment."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [] if _registered(node) else [node.name]
    elif isinstance(node, ast.Assign):
        names = [t.id for t in node.targets if isinstance(t, ast.Name)]
    elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        names = [node.target.id]
    else:
        names = []
    return [n for n in names if not n.startswith("_")]


def unreferenced() -> dict[str, str]:
    """Public top-level definitions, and public methods of public
    classes as ``Class.method``, that no product file refers to, as
    ``{name: "path:line"}``."""
    uses: Counter = Counter()
    package = {}  # path -> tree
    for path in _product_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if PACKAGE in path.parents:
            package[path] = tree
        for node in tree.body:
            if path.name == "__init__.py" and _is_reexport(node):
                continue
            uses.update(_names(node))
    classes = {
        node.name for tree in package.values()
        for node in tree.body if isinstance(node, ast.ClassDef)
    }
    found = {}
    for path, tree in package.items():
        rel = path.relative_to(ROOT)
        for node in tree.body:
            for name in _public(node):
                if uses[name] - _names(node)[name] <= 0:
                    found[name] = f"{rel}:{node.lineno}"
            if (
                not isinstance(node, ast.ClassDef)
                or not _public(node)
                or node.name in ALLOWED
                or any(getattr(b, "id", getattr(b, "attr", None)) not in classes
                       for b in node.bases)
            ):
                continue
            for meth in node.body:
                if isinstance(meth, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for name in _public(meth):
                        if uses[name] - _names(meth)[name] <= 0:
                            found[f"{node.name}.{name}"] = f"{rel}:{meth.lineno}"
    return found


def test_every_public_definition_has_a_product_caller():
    found = unreferenced()
    missing = {n: where for n, where in found.items() if n not in ALLOWED}
    assert not missing, (
        "public definitions only tests reach; wire each into the product "
        f"or delete it with its tests: {missing}"
    )
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"allow-listed names now have a caller; drop them: {stale}"
