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
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(re.findall(r"\w+", n.value))
    return out


def _registered(node: ast.stmt) -> bool:
    for dec in getattr(node, "decorator_list", []):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id in REGISTERING:
            return True
    return False


def unreferenced() -> dict[str, str]:
    """Public top-level definitions no product file refers to, as
    ``{name: "path:line"}``."""
    uses: Counter = Counter()
    defs = []
    for path in _product_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if path.name == "__init__.py" and _is_reexport(node):
                continue
            uses.update(_names(node))
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not _registered(node)
            ):
                defs.append((node, path))
    return {
        node.name: f"{path.relative_to(ROOT)}:{node.lineno}"
        for node, path in defs
        if uses[node.name] - _names(node)[node.name] <= 0
    }


def test_every_public_definition_has_a_product_caller():
    found = unreferenced()
    missing = {n: where for n, where in found.items() if n not in ALLOWED}
    assert not missing, (
        "public definitions only tests reach; wire each into the product "
        f"or delete it with its tests: {missing}"
    )
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"allow-listed names now have a caller; drop them: {stale}"
