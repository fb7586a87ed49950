"""Property-based tests: for random small tables, the pivot operator must
agree with a direct pure-Python model of the reference semantics
(null-skipping aggregates, undeclared-value exclusion, empty-cell
identities per SURVEY.md §2.2), and the sketch/cluster/statistics
operators keep their invariants on any input."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pivot_spark import PivotConfig, pivot

GROUPS = ["g1", "g2", "g3"]
PIVOTS = ["X", "Y", "Z"]  # Z is NOT declared -> excluded from cells

row = st.tuples(
    st.sampled_from(GROUPS),
    st.sampled_from(PIVOTS),
    st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
)


def model(rows):
    """Expected output: {group: {cell_col: value}} for declared values X,Y
    with s:sum (empty->None), c:count (empty->0), la:logicaland of v>0
    (empty->True)."""
    out = {}
    for g in sorted({r[0] for r in rows}):
        cells = {}
        for v in ("X", "Y"):
            vals = [r[2] for r in rows if r[0] == g and r[1] == v and r[2] is not None]
            cells[f"{v}_s"] = sum(vals) if vals else None
            cells[f"{v}_c"] = len(vals)
            cells[f"{v}_la"] = all(x > 0 for x in vals)  # vacuous True on empty
        out[g] = cells
    return out


@pytest.mark.usefixtures("spark")
@given(rows=st.lists(row, min_size=1, max_size=30))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pivot_matches_model(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "g string, p string, v int").withColumn(
        "pos", F.col("v") > 0
    )
    cfg = PivotConfig(
        pivot_columns="p=X,Y",
        pivot_rows="g",
        aggregates="s:sum(v),c:count(v),la:logicaland(pos)",
    )
    got = {
        r["g"]: {k: r[k] for k in r.asDict() if k != "g"}
        for r in pivot(df, cfg).output.collect()
    }
    assert got == model(rows)


# --- the routed plan (COUNTDISTINCT / SKEWNESS / KURTOSIS) ------------------

P_VALUES = ["X", "Y", "Z", None]  # Z and NULL are undeclared
Q_VALUES = [1, 2, 3, None]  # 3 and NULL are undeclared
CELLS = [(p, q) for p in ("X", "Y") for q in ("1", "2")]

routed_row = st.tuples(
    st.sampled_from(GROUPS),
    st.sampled_from(P_VALUES),
    st.sampled_from(Q_VALUES),
    st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),
)


def _skewness(vals):
    """Population skewness as Spark computes it: NULL on no values and on
    zero variance (``spark.sql.legacy.statisticalAggregate`` off)."""
    xs = [x for x in vals if x is not None]
    if not xs:
        return None
    mu = sum(xs) / len(xs)
    m2 = sum((x - mu) ** 2 for x in xs) / len(xs)
    m3 = sum((x - mu) ** 3 for x in xs) / len(xs)
    return None if m2 == 0 else m3 / m2**1.5


def routed_model(rows, mode):
    """{group: {cell_col: value}}: a row counts in cell (p, q) iff both of
    its pivot values are that cell's; NULL is one distinct value; a group
    is dropped on the error port iff any of its rows has an undeclared or
    NULL pivot value."""
    out = {}
    for g in sorted({r[0] for r in rows}):
        grp = [r for r in rows if r[0] == g]
        bad = any(r[1] not in ("X", "Y") or r[2] not in (1, 2) for r in grp)
        if bad and mode == "send-to-error-port":
            continue
        cells = {}
        for p, q in CELLS:
            vals = [r[3] for r in grp if r[1] == p and str(r[2]) == q]
            non_null = [x for x in vals if x is not None]
            cells[f"{p}_{q}_cd"] = len(set(vals))
            cells[f"{p}_{q}_sk"] = _skewness(vals)
            cells[f"{p}_{q}_s"] = sum(non_null) if non_null else None
        out[g] = cells
    return out


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-9
        )
    return a == b


def _assert_frames_match(got, want):
    assert set(got) == set(want)
    for g in want:
        assert set(got[g]) == set(want[g]), g
        for col, v in want[g].items():
            assert _close(got[g][col], v), (g, col, got[g][col], v)


@pytest.mark.usefixtures("spark")
@given(
    rows=st.lists(routed_row, min_size=1, max_size=30),
    mode=st.sampled_from(["skip-error", "send-to-error-port"]),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_routed_pivot_matches_model(spark, rows, mode):
    df = spark.createDataFrame(rows, "g string, p string, q int, v int")
    cfg = PivotConfig(
        pivot_columns="p=X,Y;q=1,2",
        pivot_rows="g",
        aggregates="cd:countdistinct(v),sk:skewness(v),s:sum(v)",
        on_error=mode,
    )
    got = {
        r["g"]: {k: r[k] for k in r.asDict() if k != "g"}
        for r in pivot(df, cfg).output.collect()
    }
    _assert_frames_match(got, routed_model(rows, mode))


# g1 fills X and Y, g2 only X, g3 has only undeclared/NULL pivot values
# (every cell empty), g4's X cell holds only NULL fields
PARITY_ROWS = [
    ("g1", "X", 1, "apple", True, 1),
    ("g1", "X", 4, "Pear", False, 2),
    ("g1", "X", 4, None, None, 3),
    ("g1", "Y", -2, "fig", True, 4),
    ("g1", "Y", 7, "kiwi", True, 5),
    ("g1", "Y", 3, "Date", False, 6),
    ("g2", "X", 5, "plum", True, 7),
    ("g2", "X", 2, "lime", True, 8),
    ("g2", "Z", 9, "yuzu", False, 9),
    ("g3", "Z", 6, "sloe", True, 10),
    ("g3", None, 8, "akee", False, 11),
    ("g4", "X", None, None, None, 12),
    ("g4", "X", None, None, None, 13),
]


def _parity_field(name, builder):
    if not builder.requires_field:
        return "*"
    if name in ("LONGESTSTRING", "SHORTESTSTRING"):
        return "s"
    if name in ("LOGICALAND", "LOGICALOR"):
        return "b"
    return "v"


@pytest.mark.parametrize("default_value", [None, "0"])
def test_every_aggregate_same_in_both_plans(spark, default_value):
    """Each function through the masked and the routed plan: equal
    values and types, empty cells included — this pins every
    ``AggregateBuilder.empty`` to what the masked builder yields."""
    from pivot_spark.functions.aggregates import AGGREGATES
    from pivot_spark.operators.pivot import _pivot

    df = spark.createDataFrame(
        PARITY_ROWS, "g string, p string, v int, s string, b boolean, o int"
    )
    aggs = ",".join(
        f"{n.lower()}:{n.lower()}({_parity_field(n, b)})" for n, b in AGGREGATES.items()
    ) + ",smin:min(s),smax:max(s)"
    cfg = PivotConfig(
        pivot_columns="p=X,Y",
        pivot_rows="g",
        aggregates=aggs,
        order_by=["o"],
        default_value=default_value,
    )
    masked = _pivot(df, cfg, routed=False).output
    routed = _pivot(df, cfg, routed=True).output
    assert routed.schema == masked.schema

    def by_group(frame):
        return {r["g"]: r.asDict() for r in frame.collect()}

    want = by_group(masked)
    assert set(want) == {"g1", "g2", "g3", "g4"}
    _assert_frames_match(by_group(routed), want)


# --- the sketch/cluster/statistics operators: invariants on ANY input -------

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.mark.usefixtures("spark")
@given(keys=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60))
@settings(**SETTINGS)
def test_cms_never_undercounts(spark, keys):
    from collections import Counter

    from pivot_spark.operators.sketch import cms_build, cms_estimate

    df = spark.createDataFrame([(str(k),) for k in keys], ["k"])
    sk = cms_build(df, "k", width=16, depth=3)  # tiny width: force collisions
    est = {
        r["k"]: r["cms_est"]
        for r in cms_estimate(sk, df.distinct(), "k", width=16, depth=3).collect()
    }
    true = Counter(str(k) for k in keys)
    for k, n in true.items():
        assert est[k] >= n


@pytest.mark.usefixtures("spark")
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        max_size=20,
    ),
    scores=st.lists(st.integers(min_value=0, max_value=9), min_size=16, max_size=16),
)
@settings(**SETTINGS)
def test_keep_best_one_survivor_per_cluster(spark, edges, scores):
    from pivot_spark.operators.components import dedup_clusters_keep_best

    df = spark.createDataFrame(
        [(i, scores[i]) for i in range(16)], ["id", "score"]
    )
    pairs = spark.createDataFrame(
        edges or [(0, 0)], ["id_a", "id_b"]
    ).filter("id_a != id_b")
    out = dedup_clusters_keep_best(df, pairs, "id", "score").collect()
    assert len(out) == 16  # every row labeled
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        # the survivor has the max score (tie -> min id)
        best = max(members, key=lambda r: (r["score"], -r["id"]))
        assert keepers[0]["id"] == best["id"]


@pytest.mark.usefixtures("spark")
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=3, max_size=40
    )
)
@settings(**SETTINGS)
def test_spearman_self_correlation_is_one(spark, vals):
    from pivot_spark.operators.profile import spearman_matrix

    # y strictly increasing in x => rho == 1 regardless of spacing/ties in x
    rows = [(float(v), float(i)) for i, v in enumerate(sorted(vals))]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r["col_a"], r["col_b"]): r["spearman"]
        for r in spearman_matrix(df, ["x", "y"], num_ranges=3).collect()
    }
    rho = got[("x", "y")]
    if len(set(vals)) == 1:
        assert rho is None  # constant x -> undefined
    else:
        # ties in x reduce rho below 1 only via average ranks; with y
        # following sort order rho stays within (0, 1]
        assert 0.0 < rho <= 1.0
