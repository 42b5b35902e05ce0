"""Plan guard: every window aggregate is evaluated once.

A PySpark Column is an expression tree, so a windowed Column bound to
a Python name and reused in later arithmetic is planned again at every
use, and Catalyst does not merge the copies: each one becomes its own
window function in the Window operator, evaluated over the frame for
every row. The fix is to select each distinct window aggregate once as
a named column and derive from the column.

This module builds every operator in ``pyrate_spark/operators`` that
calls ``.over(`` on a small frame and asserts that the window
expressions in its optimized plan are all distinct. The builder table
is checked against the source, so an operator that adds a window
without a builder here fails too.

Counts (planned / distinct) on Spark 4.1 before operators selected
each window aggregate once; every other operator here was already
clean, and after the rewrite every operator plans each window
expression exactly once (planned == distinct):

- ``anomaly_zscore``: 131 / 3 (count, sum, sum of squares)
- ``orbital_detrend`` (degree 1): 15 / 5
- ``counter_rate``: 8 / 2
- ``slo_burn_rate``: 8 / 4
- ``rate_grid``: 2 / 1
"""

import ast
import datetime as dt
import pathlib

import pytest

from pyrate_spark.operators import (anomaly, asof, corrections, correlate,
                                    dedup, metrics, pairs, quicklook,
                                    rollup, similarity, windows)

OPS_DIR = pathlib.Path(anomaly.__file__).parent

T0 = dt.datetime(2024, 1, 1)


def _series(spark):
    rows = [(u, T0 + dt.timedelta(hours=3 * i + j),
             None if (i + j) % 5 == 0 else float(i * (j + 1)))
            for j, u in enumerate(["a", "b", "c"]) for i in range(8)]
    return spark.createDataFrame(rows,
                                 "url string, warc_ts timestamp, "
                                 "value double")


def _tier(spark):
    rows = [(u, T0 + dt.timedelta(hours=i),
             None if (i + j) % 4 == 0 else float((i * 7 + j) % 5))
            for j, u in enumerate(["a", "b"]) for i in range(10)
            if i != 5]
    return spark.createDataFrame(rows,
                                 "url string, bucket_start timestamp, "
                                 "value_avg double")


def _embeddings(spark):
    rows = [(i, [float((i * k) % 7) + 1.0 for k in range(1, 5)], i % 3)
            for i in range(12)]
    return spark.createDataFrame(rows, "vec_id long, embedding "
                                       "array<double>, label int")


def _lag_pairs(spark):
    rows = [("a", "b", lag, r, 10)
            for lag, r in [(-1, 0.2), (0, 0.9), (1, -0.95)]]
    return spark.createDataFrame(rows, "url_a string, url_b string, "
                                       "lag int, r double, "
                                       "n_overlap long")


def _docs(spark):
    return spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "z")], "doc_id long, text string")


def _dup_pairs(spark):
    return spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                 "doc_a long, doc_b long")


BUILDERS = {
    "anomaly_zscore": [lambda s: anomaly.anomaly_zscore(
        _tier(s), window=4, min_obs=2)],
    "slo_burn_rate": [lambda s: anomaly.slo_burn_rate(_tier(s), 2.0, 2, 4)],
    "asof_join": [lambda s: asof.asof_join(_series(s), _tier(s),
                                           tolerance_sec=7200)],
    "orbital_detrend": [lambda s: corrections.orbital_detrend(_series(s)),
                        lambda s: corrections.orbital_detrend(_series(s),
                                                              degree=0)],
    "best_lag": [lambda s: correlate.best_lag(_lag_pairs(s))],
    "exact_dedup": [lambda s: dedup.exact_dedup(_docs(s))],
    "near_dup_clusters": [lambda s: dedup.near_dup_clusters(
        _dup_pairs(s), docs=_docs(s))],
    "time_weighted_avg": [lambda s: metrics.time_weighted_avg(
        _series(s), 3600, method="linear", max_gap_sec=7200)],
    "heartbeat_uptime": [lambda s: metrics.heartbeat_uptime(_series(s),
                                                            3600, 600)],
    "gap_detect": [lambda s: metrics.gap_detect(_series(s), 600)],
    "epoch_ids": [lambda s: pairs.epoch_ids(_series(s))],
    "sequential_pairs": [lambda s: pairs.sequential_pairs(_series(s))],
    "network_pairs": [lambda s: pairs.network_pairs(_series(s), 2),
                      lambda s: pairs.network_pairs(_series(s), 2,
                                                    via="range_join")],
    "rate_grid": [lambda s: quicklook.rate_grid(s.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "url string, rate double"),
        width=2)],
    "gapfill_tier": [lambda s: rollup.gapfill_tier(_tier(s), "1 hour"),
                     lambda s: rollup.gapfill_tier(_tier(s), "1 hour",
                                                   method="interp")],
    "cumulative": [lambda s: rollup.cumulative(_tier(s))],
    "counter_rate": [lambda s: rollup.counter_rate(_tier(s))],
    "cosine_topk": [lambda s: similarity.cosine_topk(_embeddings(s),
                                                     [0, 1], k=2)],
    "ivf_topk": [lambda s: similarity.ivf_topk(_embeddings(s), [0, 1],
                                               k=2)],
    "ivf_topk_kmeans": [lambda s: similarity.ivf_topk_kmeans(
        _embeddings(s), [0, 1], k=2, n_cells=2)],
    "lsh_topk_multi": [lambda s: similarity.lsh_topk_multi(
        _embeddings(s), [0, 1], k=2, n_tables=2)],
    "lsh_topk": [lambda s: similarity.lsh_topk(_embeddings(s), [0, 1],
                                               k=2, n_planes=3)],
    "topk_per_bucket": [lambda s: windows.topk_per_bucket(_tier(s), 1)],
}


def _window_operators():
    """Every top-level function in pyrate_spark/operators that calls
    ``.over(``."""
    found = set()
    for path in sorted(OPS_DIR.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and any(
                    isinstance(c, ast.Call)
                    and isinstance(c.func, ast.Attribute)
                    and c.func.attr == "over"
                    for c in ast.walk(node)):
                found.add(node.name)
    return found


def window_expressions(df):
    """Canonical form of each window expression in the optimized plan,
    one entry per planned window function (duplicates kept)."""
    out = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            exprs = node.windowExpressions()
            for i in range(exprs.size()):
                e = exprs.apply(i)
                if e.getClass().getSimpleName() == "Alias":
                    e = e.child()
                out.append(e.canonicalized().toString())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_every_window_operator_has_a_builder():
    assert _window_operators() == set(BUILDERS)


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_each_window_expression_planned_once(spark, name):
    for build in BUILDERS[name]:
        exprs = window_expressions(build(spark))
        assert exprs, f"{name}: no Window operator in the plan"
        planned, distinct = len(exprs), len(set(exprs))
        assert planned == distinct, (
            f"{name}: {planned} window expressions planned for "
            f"{distinct} distinct")
