"""Self-check harness replicating the driver's correctness gate:
run every __spark_entry__.queries() entry in Spark AND its oracle_sql()
in DuckDB on the same parquet, compare row count + column names +
canonicalized values (order-insensitive).

STRICTNESS (round-4 verdict item #2): the driver's value hash does NOT
re-round floats and does NOT normalize IEEE -0.0, and it materializes the
DuckDB side through pandas (``.df()``), where uncast HUGEINT / nullable
int columns silently become float64/object. This replica therefore:

- canonicalizes floats with ``repr(float(v))`` — full precision, the
  sign of zero preserved (``-0.0`` != ``0.0``);
- fetches the oracle BOTH via ``fetchall`` AND via ``.arrow()`` (the
  typed layer the driver's hash behaves like: nullable ints stay
  int64, HUGEINT becomes decimal128, dates stay dates) and flags the
  query if EITHER disagrees with the Spark result. Type-level parity
  (BIGINT vs HUGEINT vs DECIMAL) is checked separately by
  ``tools/type_parity.py``.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

import __spark_entry__ as entry_mod
from pivot_spark.operators._fence import fence_scope
from pivot_spark.session import get_spark
from pivot_spark.sources.catalog import TABLES


def canon_cell(v) -> str:
    """Driver-strict canonical string for one cell: no re-rounding, no
    -0.0 folding, and — round-7 fix — NULL is DISTINCT from ``''`` and
    from NaN (the driver's type-aware hash distinguishes all three; the
    old ``None → ''`` lax mapping is exactly what let the e55
    NULL-vs-empty-string oracle bug ship past this replica). numpy
    scalars unwrap to Python."""
    if v is None:
        return "\x00NULL"
    t = type(v).__name__
    if t == "ndarray":
        v = list(v)
    if hasattr(v, "item") and t in (
        "int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
        "uint64", "float32", "float64", "bool_",
    ):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NaN"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + "|".join(canon_cell(x) for x in v) + "]"
    if t == "Decimal":
        # exact decimal (e.g. arrow decimal128 from HUGEINT): keep the
        # digits verbatim — a trailing-zero difference vs the double
        # repr IS a finding, not noise
        return str(v)
    return str(v)


def canon_frame(cols, rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def _arrow_rows(tbl) -> list[tuple]:
    """arrow table → native-typed rows (ints stay int, NULL → None)."""
    cols = tbl.column_names
    return [tuple(d[c] for c in cols) for d in tbl.to_pylist()]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle_check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    for name in queries:
        if only and name not in only:
            continue
        with fence_scope():
            sdf = queries[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        if name not in oracles:
            print(f"{name:18s} ROWS-ONLY rows={len(srows)}")
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = [tuple(r) for r in res.fetchall()]
        prows = _arrow_rows(con.execute(oracles[name]).arrow())
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"{name:18s} COLUMN MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"{name:18s} ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            _, sc = canon_frame(scols, srows)
            for fetch, rows in (("fetchall", drows), ("arrow", prows)):
                _, dc = canon_frame(dcols, rows)
                if sc != dc:
                    n_bad = sum(1 for a, b in zip(sc, dc) if a != b)
                    bad = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                    print(f"{name:18s} VALUE MISMATCH [{fetch}] ({n_bad} rows) e.g. {bad}")
                    ok = False
        if ok:
            print(f"{name:18s} OK rows={len(srows)} cols={len(scols)}")
        else:
            failed.append(name)
    if failed:
        print(f"\nFAILED: {sorted(set(failed))}")
        return 1
    print("\nALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
