"""Every top-level def and class in the package is reached from a product path.

An AST-only check (no Spark session). Product paths are
``__spark_entry__.py``, ``bench.py``, ``tools/*.py``, ``perfbench/*.py``
and the package modules run as programs (an ``if __name__ == "__main__"``
block). A package module counts as loaded when a product path or a reached
def imports it; a loaded module's module-level statements are roots, and a
def decorated with the registry's ``@query(...)`` is module-level code (the
decorator registers it at import). The closure over the top-level ``def``s
and ``class``es of ``nhl_data_pipeline_spark/**`` must cover every one
except the ``KEEP`` entries below, each of which a test uses as a
reference or fixture.

Names resolve per module: a bare name to a def of the same module or to
what the module imports under that name, and ``M.f`` to ``f`` of the
module that ``M`` names. So ``B.encode`` with ``B`` bound to
``operators/bpe.py`` reaches ``bpe.py::encode`` and no other ``encode``.
String literals do not count. Code that only its own test calls fails
here: wire it into a product path, move it into that test, or delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "nhl_data_pipeline_spark"

KEEP = {
    # independent references a test checks a live path against
    "operators/dedup.py::shingles": "array-HOF reference for exploded_distinct_shingles",
    "operators/dedup.py::simhash": "array-HOF reference for simhash_exploded",
    "operators/ranges.py::interval_join_naive": "reference for the range-join operator",
    "operators/kmeans.py::semantic_neardup_pairs": "exact reference for the blocked semantic-dedup forms",
    "operators/pq.py::encode": "reference test_pq.py checks encode_numpy against",
    "operators/pq.py::_code_expr": "codebook-argmin column of encode",
    "functions/scalars.py::accent_fold_unicode": "NFKD reference for accent_fold",
    "nhl/quality.py::not_null": "primitive the fused quality suite is checked against",
    "nhl/quality.py::unique": "primitive the fused quality suite is checked against",
    "nhl/quality.py::accepted_values": "primitive the fused quality suite is checked against",
    "nhl/quality.py::accepted_range": "primitive the fused quality suite is checked against",
    "nhl/quality.py::relationships": "primitive the fused quality suite is checked against",
    # fixtures and twins for tests of live code
    "operators/pq.py::train_codebooks": "trains the PQ codebooks the encode/ADC tests use",
    "operators/pq.py::_subvec": "sub-slice column of train_codebooks and encode",
    "operators/classifier.py::demo_weights": "classifier weights fixture",
    "operators/classifier.py::_demo_weight_sql": "weight rule of demo_weights and classifier_score_sql",
    "operators/classifier.py::_hex6_int_sql": "hex decoder of _demo_weight_sql",
    "operators/classifier.py::classifier_score_sql": "DuckDB twin of the classifier score",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _is_query(stmt: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in getattr(stmt, "decorator_list", ())
    )


def _is_main_guard(stmt: ast.AST) -> bool:
    return (
        isinstance(stmt, ast.If)
        and isinstance(stmt.test, ast.Compare)
        and isinstance(stmt.test.left, ast.Name)
        and stmt.test.left.id == "__name__"
    )


class _Graph:
    def __init__(self) -> None:
        self.trees: dict[str, ast.Module] = {}
        self.label: dict[str, str] = {}
        for f in sorted(PKG.rglob("*.py")):
            mod = _module_name(f)
            self.trees[mod] = ast.parse(f.read_text(encoding="utf-8"))
            self.label[mod] = f.relative_to(PKG).as_posix()
        self.defs = {
            mod: {s.name: s for s in tree.body if isinstance(s, _DEFS)}
            for mod, tree in self.trees.items()
        }
        self.bindings = {mod: self.imports(t) for mod, t in self.trees.items()}

    @staticmethod
    def _imported(node: ast.AST):
        """(bound name, ("mod", module) or ("from", module, name)) per alias."""
        for a in node.names:
            if isinstance(node, ast.Import):
                top = a.name.split(".")[0]
                yield a.asname or top, ("mod", a.name if a.asname else top)
            else:
                yield a.asname or a.name, ("from", node.module, a.name)

    def imports(self, tree: ast.Module) -> dict[str, tuple]:
        """Every import in the module, any scope: bound name → target."""
        return {
            name: t
            for n in ast.walk(tree)
            if isinstance(n, _IMPORTS)
            for name, t in self._imported(n)
        }

    def resolve(self, target: tuple | None) -> tuple | None:
        """A binding as ("def", module, name), ("mod", module) or None."""
        if target is None or target[0] != "from":
            return target
        _, mod, name = target
        if f"{mod}.{name}" in self.trees:
            return ("mod", f"{mod}.{name}")
        if name in self.defs.get(mod, {}):
            return ("def", mod, name)
        return self.resolve(self.bindings.get(mod, {}).get(name))

    def refs(self, mod: str, bindings: dict[str, tuple], node: ast.AST) -> set[tuple]:
        """What ``node`` references: defs ("def", module, name) and modules."""
        out: set[tuple] = set()

        def target(n: ast.AST) -> tuple | None:
            if isinstance(n, ast.Name):
                if n.id in self.defs.get(mod, {}):
                    return ("def", mod, n.id)
                return self.resolve(bindings.get(n.id))
            if isinstance(n, ast.Attribute):
                base = target(n.value)
                if base and base[0] == "mod":
                    return self.resolve(("from", base[1], n.attr))
            return None

        for n in ast.walk(node):
            if isinstance(n, (ast.Name, ast.Attribute)):
                out.add(target(n))
            elif isinstance(n, ast.Import):
                out.update(("mod", a.name) for a in n.names)
            elif isinstance(n, ast.ImportFrom):
                out.update(self.resolve(t) for _, t in self._imported(n))
        out.discard(None)
        return out


def unreached_package_defs() -> set[str]:
    g = _Graph()
    todo: list[tuple] = []
    sources = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    sources += sorted((ROOT / "tools").glob("*.py"))
    sources += sorted((ROOT / "perfbench").glob("*.py"))
    for f in sources:
        tree = ast.parse(f.read_text(encoding="utf-8"))
        todo.extend(g.refs(f.stem, g.imports(tree), tree))
    for mod, tree in g.trees.items():
        if any(_is_main_guard(s) for s in tree.body):
            todo.append(("mod", mod))

    seen: set[tuple] = set()
    while todo:
        item = todo.pop()
        if item in seen:
            continue
        seen.add(item)
        if item[0] == "mod":
            parts = item[1].split(".")
            todo.extend(("mod", ".".join(parts[:i])) for i in range(1, len(parts)))
            tree = g.trees.get(item[1])
            for stmt in tree.body if tree else ():
                if _is_query(stmt):
                    todo.append(("def", item[1], stmt.name))
                elif not isinstance(stmt, _DEFS):
                    todo.extend(g.refs(item[1], g.bindings[item[1]], stmt))
        else:
            _, mod, name = item
            todo.append(("mod", mod))
            todo.extend(g.refs(mod, g.bindings[mod], g.defs[mod][name]))
    return {
        f"{g.label[mod]}::{name}"
        for mod, names in g.defs.items()
        for name in names
        if ("def", mod, name) not in seen
    }


def test_every_operator_def_is_reached_or_kept():
    unreached = unreached_package_defs()
    orphans = sorted(unreached - set(KEEP))
    assert not orphans, f"defs no product path reaches: {orphans}"
    stale = sorted(set(KEEP) - unreached)
    assert not stale, f"KEEP names now reached (or gone), drop them: {stale}"
