"""The one way to share a frame between several consumers (self-join
sides, split aggregations, a driver-side decision plus the query after
it), so it is computed once. ``pin`` is a lazy ``localCheckpoint``: its
shuffle stages run now, its last stage in the first action that reads
it. ``materialize`` persists the frame and fills it with one aggregate
job whose row the caller needs (a row count, a probe). ``pin_view``
records a temp view (a streaming replay's memory sink). ``fence_scope()``
releases all three, so a long-lived session wraps each query in one.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

_scopes: list[list[Callable[[], object]]] = []  # releases, run at scope exit


def pin(df: DataFrame, label: str) -> DataFrame:
    """Checkpoint ``df`` lazily (its shuffle jobs run under the job
    description ``label``) and record it in the innermost scope."""
    with _described(df, label):
        df = df.localCheckpoint(eager=False)
    _on_exit(lambda: df._jdf.logicalPlan().rdd().unpersist(False))
    return df


def pin_view(spark: SparkSession, name: str) -> str:
    """Record the temp view ``name`` in the innermost scope, whose exit
    drops it; return ``name``."""
    _on_exit(lambda: spark.catalog.dropTempView(name))
    return name


def materialize(df: DataFrame, label: str, *probes: Column) -> "tuple[DataFrame, Row]":
    """Persist ``df`` and fill it with ONE aggregate job, ``count(1)``
    plus ``probes``, run under the job description ``label``. Returns
    ``(frame, row)``: ``row[0]`` is the row count, ``row[1:]`` the probe
    values."""
    df = df.persist()
    _on_exit(lambda: df._jdf.unpersist(False))
    with _described(df, label):
        return df, df.agg(F.count(F.lit(1)), *probes).head()


def _on_exit(release: Callable[[], object]) -> None:
    if _scopes:
        _scopes[-1].append(release)


@contextmanager
def _described(df: DataFrame, label: str) -> Iterator[None]:
    """Run the jobs inside under the job description ``label``, then
    restore the caller's (a job group set by the caller keeps its own)."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


@contextmanager
def fence_scope() -> Iterator[None]:
    """Release, on exit, every frame pinned inside.

    Run every action on a frame built inside the scope inside it too.
    After exit a ``pin``ned frame's rows are gone and reading it fails;
    a ``materialize``d frame is recomputed, and where one evaluation
    matters (a nondeterministic upstream) its readers can disagree.
    A ``pin_view``ed view is dropped, so read it inside too.
    Outside any scope nothing is recorded: Spark drops a ``pin``ned
    frame's rows once the frame is garbage-collected,
    ``spark.catalog.clearCache()`` releases ``materialize``d frames and
    ``spark.catalog.dropTempView`` a view.
    """
    _scopes.append([])
    try:
        yield
    finally:
        for release in _scopes.pop():
            release()
