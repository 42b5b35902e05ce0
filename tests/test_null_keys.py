"""A null key is a key: the hot/cold split of the grouped kernels must
keep the null-url group, whether it is cold beside a hot key or hot
itself.

The cold side used to be ``~url.isin(hot)``, which is NULL (so
filtered out) for a null url, and hot-key detection sorted its keys
with ``sorted``, which raises on ``None`` next to strings. The kernel
tests compare the set of urls that come out with the set that went
in, null included; the rates tests also assert one row per url.

A hot null key must also be isolated like any hot key, and every
keyed operator (the grouped kernels and the corrections kernels) must
return the null-url group beside a hot key, bit-identically whether
its input is url-clustered or scrambled.
"""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from pyrate_spark.config import EngineConfig
from pyrate_spark.operators.grouped import (detect_hot_keys,
                                            linear_rate_from_pairs,
                                            pin_clustering,
                                            timeseries_per_url)
from pyrate_spark.operators.pairs import network_pairs
from pyrate_spark.operators.udf_kernels import group_slices

T0 = dt.datetime(2024, 1, 1)
CFG = EngineConfig(ts_method=2, ts_pthr=0)


def _pairs(spark, n_null: int):
    """60 cold urls with 6 snapshots, one hot url ``h`` with 100 and a
    null url with ``n_null``; persisted, so the pair network's url
    clustering is reused (the clustered path of both kernels). With
    ``n_null=200`` the null group has about 20x the mean pair count,
    past the 8x hot cut beside ``h``."""
    keys = [(f"c{i}", 6) for i in range(60)] + [("h", 100),
                                                (None, n_null)]
    rows = [(u, T0 + dt.timedelta(hours=6 * i + j % 3),
             float((i * 7) % 5) + 0.5 * i)
            for j, (u, n) in enumerate(keys) for i in range(n)]
    series = spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                                         "value double")
    p = network_pairs(series, max_span_days=3,
                      max_pairs_per_epoch=2).persist()
    p.count()
    return p


def _url_counts(df):
    return {r["url"]: r["count"]
            for r in df.groupBy("url").count().collect()}


@pytest.fixture(scope="module")
def cold_null_pairs(spark):
    p = _pairs(spark, 6)
    yield p
    p.unpersist()


@pytest.fixture(scope="module")
def hot_null_pairs(spark):
    p = _pairs(spark, 200)
    yield p
    p.unpersist()


def _exchange_count(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"Exchange [^\n]*\[plan_id=(\d+)\]", plan)))


def test_fixture_takes_the_clustered_path(cold_null_pairs):
    # the planner drops the kernels' repartition(N, url) on this input
    assert (_exchange_count(pin_clustering(cold_null_pairs))
            == _exchange_count(cold_null_pairs))
    assert None in _url_counts(cold_null_pairs)


def test_keyed_apply_keeps_cold_null_url_beside_hot_key(cold_null_pairs):
    want = _url_counts(cold_null_pairs)
    ts = timeseries_per_url(cold_null_pairs, CFG, use_mst=False,
                            hot_keys=("h",))
    assert set(_url_counts(ts)) == set(want)


@pytest.mark.parametrize("hot", [("h",), (None,), (None, "h")])
def test_linear_rates_keep_null_url_on_either_side(cold_null_pairs, hot):
    want = _url_counts(cold_null_pairs)
    rates = linear_rate_from_pairs(cold_null_pairs, CFG, use_mst=False,
                                   hot_keys=hot)
    got = _url_counts(rates)
    assert set(got) == set(want)
    assert set(got.values()) == {1}


def test_detect_hot_keys_sorts_a_hot_null_group_first(hot_null_pairs):
    assert detect_hot_keys(hot_null_pairs) == (None, "h")


def test_hot_null_group_comes_back_exactly_once(hot_null_pairs):
    want = _url_counts(hot_null_pairs)
    rates = linear_rate_from_pairs(hot_null_pairs, CFG, use_mst=False)
    got = _url_counts(rates)
    assert set(got) == set(want)
    assert set(got.values()) == {1}
    ts = timeseries_per_url(hot_null_pairs, CFG, use_mst=False)
    assert set(_url_counts(ts)) == set(want)


def test_group_slices_puts_a_null_key_first():
    import pandas as pd
    pdf = pd.DataFrame({"url": ["b", None, "a", "b", None]})
    got = [(k, list(idx)) for k, idx in group_slices(pdf)]
    assert got == [(None, [1, 4]), ("a", [2]), ("b", [0, 3])]


@pytest.fixture(scope="module")
def scrambled_hot_null_pairs(spark):
    """A null url with 4x the snapshots of the hot ``h`` beside 60 cold
    urls, round-robin scrambled over 7 partitions and materialised (an
    unpersisted scramble directly under the kernels' url repartition is
    collapsed away by the optimizer)."""
    p = _pairs(spark, 400)
    s = p.repartition(7).persist()
    s.count()
    yield s
    s.unpersist()
    p.unpersist()


def test_hot_null_key_gets_its_own_partition(scrambled_hot_null_pairs):
    """A hot null key is isolated like any hot key: its output rows
    share their partition with no other url (the salted-bucket join
    could not match a null hot key, so it hashed into a shared bucket)."""
    ts = timeseries_per_url(scrambled_hot_null_pairs, CFG, use_mst=False,
                            hot_keys=(None, "h"))
    rows = (ts.withColumn("pid", F.spark_partition_id())
            .select("url", "pid").distinct().collect())
    null_pids = {r["pid"] for r in rows if r["url"] is None}
    assert null_pids
    assert {r["url"] for r in rows if r["pid"] in null_pids} == {None}
    assert {r["url"] for r in rows} == set(
        _url_counts(scrambled_hot_null_pairs))


# --------------------------------------------------------------------------
# every keyed_apply caller: null url beside a hot key, clustered or not
# --------------------------------------------------------------------------

def _sweep_series(spark):
    """The ``_pairs`` crawl as a series with an ``aux`` covariate. Every
    value is a small multiple of 0.5, so JVM-side sums are exact in any
    order and only the kernels' own arithmetic is under test."""
    keys = [(f"c{i}", 6) for i in range(60)] + [("h", 100), (None, 6)]
    rows = [(u, T0 + dt.timedelta(hours=6 * i + j % 3),
             float((i * 7) % 5) + 0.5 * i, float(i % 3))
            for j, (u, n) in enumerate(keys) for i in range(n)]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double, aux double")


def _sweep_ops():
    from pyrate_spark.operators import corrections as C
    from pyrate_spark.operators import grouped as G
    cfg = EngineConfig(ts_method=2, ts_pthr=0, tlpf_cutoff_days=2,
                       max_loop_length=3)
    return {
        "timeseries_per_url": ("pairs", lambda d: G.timeseries_per_url(
            d, cfg, use_mst=False)),
        "stack_rate_per_url": ("pairs", lambda d: G.stack_rate_per_url(
            d, cfg, use_mst=False)),
        "linear_rate_per_url": ("tscuml", lambda d: G.linear_rate_per_url(
            d, cfg)),
        "linear_rate_from_pairs": ("pairs", lambda d:
                                   G.linear_rate_from_pairs(
                                       d, cfg, use_mst=False)),
        "linear_rate_from_pairs_mst": ("pairs", lambda d:
                                       G.linear_rate_from_pairs(
                                           d, cfg, use_mst=True)),
        "temporal_highpass_per_url": ("series", lambda d:
                                      G.temporal_highpass_per_url(d, cfg)),
        "mst_annotate": ("pairs", lambda d: G.mst_annotate(d, cfg)),
        "maxvar_full": ("series", lambda d: C.maxvar_full(d, cfg)),
        "orbital_network": ("pairs", lambda d: C.orbital_network(d, cfg)),
        "closure_mask": ("pairs", lambda d: C.closure_mask(d, cfg)),
        "closure_fixpoint": ("pairs", lambda d: C.closure_fixpoint(d, cfg)),
        "closure_loop_counts": ("pairs", lambda d:
                                C.closure_loop_counts(d, cfg)),
        "closure_sums": ("pairs", lambda d: C.closure_sums(d, cfg)),
        "dem_error_analog": ("series", lambda d:
                             C.dem_error_analog(d, cfg)),
        "cohort_lowpass_fft": ("series", lambda d: C.cohort_lowpass_fft(
            d, cfg, cohort_expr=F.col("url"))),
    }


@pytest.fixture(scope="module")
def sweep_inputs(spark):
    """{kind: (clustered, scrambled)}: each input persisted once
    hash-clustered by url and once round-robin over 7 partitions."""
    from pyrate_spark.operators.grouped import timeseries_per_url as ts
    series = pin_clustering(_sweep_series(spark)).persist()
    pairs = network_pairs(series, max_span_days=3,
                          max_pairs_per_epoch=2).persist()
    tscuml = pin_clustering(ts(pairs, CFG, use_mst=False)).persist()
    frames = {"series": series, "pairs": pairs, "tscuml": tscuml}
    out = {k: (v, v.repartition(7).persist()) for k, v in frames.items()}
    for pair in out.values():
        for df in pair:
            df.count()
    yield out
    for pair in out.values():
        for df in pair:
            df.unpersist()


def _sorted_pdf(df):
    pdf = df.toPandas()
    keys = [c for c in pdf.columns if pdf[c].dtype.kind != "f"]
    return (pdf.sort_values(keys, na_position="first", kind="stable")
            .reset_index(drop=True))


@pytest.mark.parametrize("op", sorted(_sweep_ops()))
def test_null_url_survives_every_keyed_operator(sweep_inputs, op):
    import numpy as np
    kind, build = _sweep_ops()[op]
    clustered, scrambled = sweep_inputs[kind]
    want = set(_url_counts(clustered))
    assert None in want and "h" in want
    outs = [build(clustered), build(scrambled)]
    for out in outs:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_bucket" not in plan
    a, b = (_sorted_pdf(out) for out in outs)
    assert set(a["url"]) == want
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f":
            bits = np.uint64 if x.dtype.itemsize == 8 else np.uint32
            np.testing.assert_array_equal(x.view(bits), y.view(bits),
                                          err_msg=c)
        else:
            assert list(x) == list(y), c
