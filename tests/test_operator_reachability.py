"""Every top-level def and class in the package is reached from a product path.

An AST-only check (no Spark session). Roots are the names referenced by
module-level statements anywhere in the package, every def decorated with
the registry's ``@query(...)``, and ``__spark_entry__.py``, ``bench.py``,
``tools/*.py`` and ``perfbench/*.py``. The closure of those roots over the
top-level ``def``s and ``class``es of ``nhl_data_pipeline_spark/**`` must
cover every one except the ``KEEP`` names below, each of which a test uses
as a reference or fixture. Names come from ``Name``, ``Attribute`` and
``alias`` nodes; string literals do not count. Code that only its own test
calls fails here: wire it into a product path, move it into that test, or
delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "nhl_data_pipeline_spark"

KEEP = {
    # independent references a test checks a live path against
    "shingles": "array-HOF reference for exploded_distinct_shingles",
    "simhash": "array-HOF reference for simhash_exploded",
    "interval_join_naive": "reference for the range-join operator",
    "semantic_neardup_pairs": "exact reference for the blocked semantic-dedup forms",
    "accent_fold_unicode": "NFKD reference for accent_fold",
    "not_null": "primitive the fused quality suite is checked against",
    "unique": "primitive the fused quality suite is checked against",
    "accepted_values": "primitive the fused quality suite is checked against",
    "accepted_range": "primitive the fused quality suite is checked against",
    "relationships": "primitive the fused quality suite is checked against",
    # fixtures and twins for tests of live code
    "train_codebooks": "trains the PQ codebooks the encode/ADC tests use",
    "demo_weights": "classifier weights fixture",
    "_demo_weight_sql": "weight rule of demo_weights and classifier_score_sql",
    "_hex6_int_sql": "hex decoder of _demo_weight_sql",
    "classifier_score_sql": "DuckDB twin of the classifier score",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _is_query(stmt: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in getattr(stmt, "decorator_list", ())
    )


def unreached_package_defs() -> set[str]:
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for f in sorted(PKG.rglob("*.py")):
        for stmt in _parse(f).body:
            if isinstance(stmt, _DEFS) and not _is_query(stmt):
                defs.setdefault(stmt.name, []).append(stmt)
            else:
                roots |= _names(stmt)
    sources = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    sources += sorted((ROOT / "tools").glob("*.py"))
    sources += sorted((ROOT / "perfbench").glob("*.py"))
    for f in sources:
        roots |= _names(_parse(f))

    seen: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs[name]:
            todo.extend(n for n in _names(node) if n in defs and n not in seen)
    return set(defs) - seen


def test_every_operator_def_is_reached_or_kept():
    unreached = unreached_package_defs()
    orphans = sorted(unreached - set(KEEP))
    assert not orphans, f"defs no product path reaches: {orphans}"
    stale = sorted(set(KEEP) - unreached)
    assert not stale, f"KEEP names now reached (or gone), drop them: {stale}"
