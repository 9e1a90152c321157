"""Every public package definition has a caller outside the tests.

Parses the source with ``ast`` (no Spark session) and collects, for each
public top-level function or class in ``dbt_repo_spark/``, the names used
anywhere in the product: the package itself, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` and ``tools/``. A definition counts as
referenced when its name appears outside its own body as a name, an
attribute, an import or a word in a string: the registry and the data-test
specs reach code by its name in a string. Re-exports in ``__init__.py``
(its imports and ``__all__``) do not count, and neither does anything
under ``tests/``. Definitions decorated with a registering decorator
(``@q`` for the query registry, ``@model`` for the DAG) are reached
through their registry.

Public methods of the package's public classes are checked the same way
by name, except that docstrings do not count as references: a method is
reached as an attribute, and its name in prose is no call. Methods of a
class that subclasses a non-package base are exempt (Spark calls a data
source's ``simpleStreamReader`` and a listener's hooks), and so are the
methods of an allow-listed class.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "dbt_repo_spark"
REGISTERING = {"q", "model"}

ALLOWED = {
    "read_json_file": "SURVEY component S3 (single multiline JSON file read)",
    "ProgressRecorder": "ROADMAP item 5 attaches it to the stream and crawl CLIs",
    "Catalog.read_pruned": (
        "the read side of the zone map that `optimize --zorder` writes; "
        "ROADMAP item 4 decides its fate"
    ),
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


def _docstrings(tree: ast.Module) -> set[int]:
    """The ids of the docstring constants of a module and its defs."""
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
        and isinstance(n.body[0].value.value, str)
    }


def _names(node: ast.AST, skip: set[int] = frozenset()) -> Counter:
    """Names, attributes, imports and words of strings under ``node``;
    string constants whose id is in ``skip`` are left out."""
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
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in skip:
            out.update(re.findall(r"\w+", n.value))
    return out


def _registered(node: ast.stmt) -> bool:
    for dec in getattr(node, "decorator_list", []):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id in REGISTERING:
            return True
    return False


def _public(node: ast.stmt) -> bool:
    return (
        isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and not _registered(node)
    )


def unreferenced() -> dict[str, str]:
    """Public top-level definitions, and public methods of public
    classes as ``Class.method``, that no product file refers to, as
    ``{name: "path:line"}``."""
    uses: Counter = Counter()  # every string counts
    code: Counter = Counter()  # docstrings do not count
    package = {}  # path -> (tree, its docstring ids)
    for path in _product_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        docs = _docstrings(tree)
        if PACKAGE in path.parents:
            package[path] = tree, docs
        for node in tree.body:
            if path.name == "__init__.py" and _is_reexport(node):
                continue
            uses.update(_names(node))
            code.update(_names(node, docs))
    classes = {
        node.name for tree, _ in package.values()
        for node in tree.body if isinstance(node, ast.ClassDef)
    }
    found = {}
    for path, (tree, docs) in package.items():
        for node in filter(_public, tree.body):
            if uses[node.name] - _names(node)[node.name] <= 0:
                found[node.name] = f"{path.relative_to(ROOT)}:{node.lineno}"
            if (
                not isinstance(node, ast.ClassDef)
                or node.name in ALLOWED
                or any(getattr(b, "id", getattr(b, "attr", None)) not in classes
                       for b in node.bases)
            ):
                continue
            for meth in filter(_public, node.body):
                if code[meth.name] - _names(meth, docs)[meth.name] <= 0:
                    found[f"{node.name}.{meth.name}"] = (
                        f"{path.relative_to(ROOT)}:{meth.lineno}"
                    )
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
