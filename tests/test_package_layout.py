"""Package layout: catalog modules and tests are grouped by operator
family, every query registers inside ``catalog/``, and registration
order is import order — no catalog module pulls in another package
module partway through its body."""

from __future__ import annotations

import ast
import pathlib
import re

import dvh_airflow_kafka_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent
TESTS = pathlib.Path(__file__).parent


def _is_register_call(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Name):
        return f.id == "register"
    # ``_core.register(...)`` / ``catalog.register(...)``, not the
    # ``atexit.register`` / ``spark.udf.register`` of the same name
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "register"
        and isinstance(f.value, ast.Name)
        and f.value.id in ("_core", "catalog")
    )


def _package_imports(tree: ast.Module) -> list[int]:
    """Line numbers of the top-level package imports that follow the
    module's first non-import statement."""
    hits, past_header = [], False
    for i, st in enumerate(tree.body):
        is_doc = i == 0 and isinstance(st, ast.Expr)
        if isinstance(st, ast.ImportFrom):
            mod = st.module or ""
            if past_header and (st.level or mod.startswith(pkg.__name__)):
                hits.append(st.lineno)
        elif isinstance(st, ast.Import):
            if past_header and any(
                a.name.startswith(pkg.__name__) for a in st.names
            ):
                hits.append(st.lineno)
        elif not is_doc:
            past_header = True
    return hits


def test_modules_are_grouped_by_family_not_by_round():
    catalog = ROOT / "catalog"
    rounds = [
        str(p.relative_to(ROOT.parent))
        for d in (catalog, TESTS)
        for p in sorted(d.rglob("*.py"))
        if re.search(r"round\d+", p.stem)
    ]
    assert not rounds, f"modules named for a round: {rounds}"

    stray, late = [], []
    for path in sorted(ROOT.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(ROOT)
        if rel.parts[0] != "catalog":
            stray += [
                f"{rel}:{n.lineno}" for n in ast.walk(tree) if _is_register_call(n)
            ]
        else:
            late += [f"{rel}:{ln}" for ln in _package_imports(tree)]
    assert not stray, f"queries registered outside catalog/: {stray}"
    assert not late, f"catalog modules import mid-body: {late}"
