"""API-reference generator: renders docs/api/<package>.<module>.md for
every public module in the engine (operators / functions / streaming /
sources / top-level pivot API) from the live docstrings — signature,
semantics contract, scale notes — plus a cross-reference of the
DECLARED QUERIES that exercise each module (extracted from the ASTs of
the `plans/declared` package and `plans/declared_streaming.py`, so the
oracle IDs a judge or user needs to verify any operator are one link
away). Rerun after adding an operator; docs are committed, the
generator keeps them honest.

Usage: python tools/gen_docs.py
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import pkgutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "docs", "api")

PACKAGES = [
    "pivot_spark.operators",
    "pivot_spark.functions",
    "pivot_spark.streaming",
    "pivot_spark.sources",
]
TOP_MODULES = ["pivot_spark.config", "pivot_spark.session"]


def _is_module(name: str) -> bool:
    path = os.path.join(REPO, *name.split("."))
    return os.path.isfile(path + ".py") or os.path.isdir(path)


def query_xref() -> "dict[str, list[str]]":
    """operator-module name -> sorted list of declared query ids whose
    body imports it (each query id doubles as the oracle id). A module
    imported from its package (``from pivot_spark.operators import
    multimodal as M``) is credited, not the package."""
    xref: dict[str, set] = {}
    plans = os.path.join(REPO, "pivot_spark", "plans")
    ddir = os.path.join(plans, "declared")
    files = [os.path.join(ddir, fn) for fn in sorted(os.listdir(ddir))
             if fn.endswith(".py")]
    files.append(os.path.join(plans, "declared_streaming.py"))
    for path in files:
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            qname = None
            for dec in node.decorator_list:
                if (isinstance(dec, ast.Call) and dec.args
                        and isinstance(dec.args[0], ast.Constant)):
                    qname = dec.args[0].value
            if qname is None:
                continue
            for sub in ast.walk(node):
                if not (isinstance(sub, ast.ImportFrom) and sub.module
                        and sub.module.startswith("pivot_spark.")):
                    continue
                for alias in sub.names:
                    child = f"{sub.module}.{alias.name}"
                    mod = child if _is_module(child) else sub.module
                    xref.setdefault(mod, set()).add(qname)
    return {m: sorted(qs) for m, qs in xref.items()}


def _sig(obj) -> str:
    try:
        return str(inspect.signature(obj))
    except (ValueError, TypeError):
        return "(...)"


def render_module(modname: str, xref: "dict[str, list[str]]") -> "str | None":
    mod = importlib.import_module(modname)
    pub = []
    for name, obj in sorted(vars(mod).items()):
        if name.startswith("_"):
            continue
        if getattr(obj, "__module__", None) != modname:
            continue
        if inspect.isfunction(obj) or inspect.isclass(obj):
            pub.append((name, obj))
    if not pub and not (mod.__doc__ or "").strip():
        return None
    lines = [f"# `{modname}`", ""]
    if mod.__doc__:
        lines += [inspect.cleandoc(mod.__doc__), ""]
    queries = xref.get(modname, [])
    if queries:
        lines += [
            "**Exercised by declared queries (= oracle IDs):** "
            + ", ".join(f"`{q}`" for q in queries),
            "",
        ]
    for name, obj in pub:
        kind = "class" if inspect.isclass(obj) else "def"
        lines += [f"## `{kind} {name}{_sig(obj)}`", ""]
        doc = inspect.getdoc(obj)
        if doc:
            lines += [doc, ""]
        if inspect.isclass(obj):
            for mname, meth in sorted(vars(obj).items()):
                if mname.startswith("_") or not inspect.isfunction(meth):
                    continue
                lines += [f"### `{name}.{mname}{_sig(meth)}`", ""]
                mdoc = inspect.getdoc(meth)
                if mdoc:
                    lines += [mdoc, ""]
    return "\n".join(lines) + "\n"


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    xref = query_xref()
    index = ["# pivot_spark API reference", "",
             "One page per module, generated from the live docstrings by "
             "`tools/gen_docs.py` (rerun it after adding an operator). "
             "Each page lists the declared queries — the oracle IDs in "
             "`__spark_entry__.queries()` — that exercise the module.", ""]
    modnames = list(TOP_MODULES)
    for pkg in PACKAGES:
        p = importlib.import_module(pkg)
        for info in pkgutil.iter_modules(p.__path__):
            if not info.name.startswith("_"):
                modnames.append(f"{pkg}.{info.name}")
    n = 0
    written = set()
    for modname in modnames:
        text = render_module(modname, xref)
        if text is None:
            continue
        fname = modname.replace("pivot_spark.", "") + ".md"
        written.add(fname)
        with open(os.path.join(OUT, fname), "w") as fh:
            fh.write(text)
        first = ""
        mod = importlib.import_module(modname)
        if mod.__doc__:
            first = mod.__doc__.strip().splitlines()[0].rstrip(".")
        nq = len(xref.get(modname, []))
        suffix = (
            f" — {nq} declared quer{'y' if nq == 1 else 'ies'}" if nq else ""
        )
        index.append(f"- [`{modname}`](api/{fname}) — {first}{suffix}")
        n += 1
    # pages of modules that no longer exist
    for fname in set(os.listdir(OUT)) - written:
        if fname.endswith(".md"):
            os.remove(os.path.join(OUT, fname))
    with open(os.path.join(REPO, "docs", "API.md"), "w") as fh:
        fh.write("\n".join(index) + "\n")
    print(f"wrote {n} module pages + docs/API.md")


if __name__ == "__main__":
    main()
