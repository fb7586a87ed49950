"""Package inits import nothing, so one import loads one module and its
real dependencies: a Python worker that unpickles a similarity or fold
kernel does not first import every operator in the package."""

import ast
import fnmatch
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "pivot_spark"

# The two inits that may import, and what each may import. The root
# re-exports the paper's pivot API; the declared registry imports its
# parts in order and registers the streaming replays last.
ALLOWED = {
    "__init__.py": ["pivot_spark.config.*", "pivot_spark.operators.pivot.*"],
    "plans/declared/__init__.py": [
        "pivot_spark.plans.declared._q_*",
        "pivot_spark.plans.declared._base.ORACLES",
        "pivot_spark.plans.declared._base.QUERIES",
        "pivot_spark.plans.declared._base.query",
        "pivot_spark.plans.declared._base.round_doubles",
        "pivot_spark.plans.declared_streaming.register",
    ],
}


def _imported(tree: ast.AST) -> "list[tuple[int, str]]":
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            out += [(node.lineno, f"{'.' * node.level}{node.module or ''}.{a.name}")
                    for a in node.names]
    return out


def test_package_inits_import_nothing():
    offenders = []
    for path in sorted(PKG.rglob("__init__.py")):
        rel = path.relative_to(PKG).as_posix()
        allowed = ALLOWED.get(rel, [])
        for lineno, name in _imported(ast.parse(path.read_text())):
            if not any(fnmatch.fnmatchcase(name, pat) for pat in allowed):
                offenders.append(f"pivot_spark/{rel}:{lineno} {name}")
    assert offenders == []


@pytest.mark.parametrize("module", ["pivot_spark.operators.similarity",
                                    "pivot_spark.streaming._fold"])
def test_one_import_leaves_other_operators_unloaded(module):
    heavy = ["pivot_spark.operators.codecs", "pivot_spark.operators.neardup"]
    code = f"import sys, {module}; print(sorted(m for m in {heavy!r} if m in sys.modules))"
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"
