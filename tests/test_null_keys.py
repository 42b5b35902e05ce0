"""A null key is a key: the hot/cold split of the grouped kernels must
keep the null-url group, whether it is cold beside a hot key or hot
itself.

The cold side used to be ``~url.isin(hot)``, which is NULL (so
filtered out) for a null url, and hot-key detection sorted its keys
with ``sorted``, which raises on ``None`` next to strings. The kernel
tests compare the set of urls that come out with the set that went
in, null included; the rates tests also assert one row per url.
"""

import datetime as dt

import pytest

from pyrate_spark.config import EngineConfig
from pyrate_spark.operators.grouped import (clustered_by_key,
                                            detect_hot_keys,
                                            linear_rate_from_pairs,
                                            timeseries_per_url)
from pyrate_spark.operators.pairs import network_pairs
from pyrate_spark.operators.udf_kernels import group_slices

T0 = dt.datetime(2024, 1, 1)
CFG = EngineConfig(ts_method=2, ts_pthr=0, salt_buckets=4)


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


def test_fixture_takes_the_clustered_path(cold_null_pairs):
    assert clustered_by_key(cold_null_pairs, "url")
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
