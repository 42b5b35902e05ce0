"""Fused pairs->rates operator == the oracle-gated two-stage chain,
bit-exact, across methods, MST selection, NaN-bearing phases and hot
keys — the fusion may change the plan, never the numbers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrate_spark.config import EngineConfig
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.grouped import (linear_rate_from_pairs,
                                            linear_rate_per_url,
                                            timeseries_per_url)
from pyrate_spark.operators.pairs import network_pairs
from pyrate_spark.sources.tables import exchange_count


def _rates_pd(df):
    pdf = df.toPandas().sort_values("url").reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def pairs(spark):
    series = extract_series(generate_pages(
        spark, n_urls=120, epochs_per_url=20, hot_urls=2, hot_factor=15,
        null_pct=15, seed=31))
    return network_pairs(series, max_span_days=3,
                         max_pairs_per_epoch=2).persist()


@pytest.mark.parametrize("method,use_mst", [(2, False), (1, False),
                                            (2, True)])
def test_fused_equals_two_stage_bit_exact(spark, pairs, method, use_mst):
    cfg = EngineConfig(ts_method=method, ts_pthr=0, velerror_nsig=2,
                       salt_buckets=16)
    two = _rates_pd(linear_rate_per_url(
        timeseries_per_url(pairs, cfg, use_mst=use_mst), cfg))
    fused = _rates_pd(linear_rate_from_pairs(pairs, cfg,
                                             use_mst=use_mst))
    assert list(two["url"]) == list(fused["url"])
    for c in ("rate", "intercept", "rsquared", "error", "samples"):
        a = two[c].to_numpy()
        b = fused[c].to_numpy()
        # bit-exact including NaN patterns
        np.testing.assert_array_equal(a.view(np.uint64),
                                      b.view(np.uint64), err_msg=c)


def test_fused_never_plans_more_exchanges(spark, pairs):
    cfg = EngineConfig(ts_method=2, ts_pthr=0, salt_buckets=16)
    two = linear_rate_per_url(timeseries_per_url(pairs, cfg,
                                                 use_mst=False), cfg)
    fused = linear_rate_from_pairs(pairs, cfg, use_mst=False)
    # BOTH paths reuse the persisted pair network's url clustering, so
    # fusion can no longer strictly halve the exchange count — but it
    # must never plan more, and the fused form ships via the
    # grouped-list Arrow boundary (MapInArrow over a zero-exchange url
    # aggregation) for cold and hot keys alike, with at most ONE new
    # exchange (the tiny hot-key range spread) on top of the input's
    # own (exchange_count also sees exchanges INSIDE the cached plan).
    assert exchange_count(fused) <= exchange_count(two)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 2
    assert "FlatMapGroupsInPandas" not in plan

    # DISTINCT exchanges (the raw count renders the cached plan's own
    # exchanges once per union branch): the fused hybrid may add only
    # ONE beyond the input's — the deliberate tiny range exchange that
    # spreads hot keys one-per-partition (_spread_hot; hash placement
    # measured 3 O(epochs^3) keys into one partition). The cold
    # url-aggregation reuses the cache's hash(url) clustering.
    import re

    def distinct_exchanges(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        return {m for m in re.findall(
            r"Exchange [^\n]*\[plan_id=(\d+)\]", p)}

    assert len(distinct_exchanges(fused)) <= len(
        distinct_exchanges(pairs)) + 1


def test_fused_unclustered_input_takes_one_explicit_exchange(spark,
                                                             pairs):
    """An input whose partitioning does NOT cluster by url (a
    materialised round-robin repartition) gets exactly one explicit
    ``repartition(N, url)`` exchange, which AQE does not coalesce —
    and the results are bit-identical to the clustered input's."""
    import re
    cfg = EngineConfig(ts_method=2, ts_pthr=0)
    scrambled = pairs.repartition(7).persist()
    try:
        scrambled.count()
        fused = linear_rate_from_pairs(scrambled, cfg, use_mst=False)
        n = spark.conf.get("spark.sql.shuffle.partitions")

        def pinned(df):
            # distinct by plan id; the cached input's own plan (the
            # pinned series exchange) prints once per union branch
            plan = df._jdf.queryExecution().executedPlan().toString()
            return len(set(re.findall(
                rf"Exchange hashpartitioning\(url#\d+, {n}\), "
                r"REPARTITION_BY_NUM, \[plan_id=(\d+)\]", plan)))

        assert pinned(fused) == pinned(scrambled) + 1
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert "_bucket" not in plan
        a = _rates_pd(fused)
        b = _rates_pd(linear_rate_from_pairs(pairs, cfg, use_mst=False))
    finally:
        scrambled.unpersist()
    assert list(a["url"]) == list(b["url"])
    for c in ("rate", "intercept", "rsquared", "error", "samples"):
        np.testing.assert_array_equal(a[c].to_numpy().view(np.uint64),
                                      b[c].to_numpy().view(np.uint64),
                                      err_msg=c)


@pytest.mark.parametrize("method,pthr,use_mst,vcm", [
    (2, 0, False, "identity"), (1, 0, False, "identity"),
    (2, 3, False, "identity"), (2, 0, True, "identity"),
    (2, 0, False, "general"),
])
def test_batched_repair_equals_internal_scalar(method, pthr, use_mst,
                                               vcm):
    """The batched-rounds rank repair (_batched_repair) must be
    bit-equal to time_series_pixel's internal scalar repair loop for
    every key, across methods / pthr / MST / VCM modes — randomized
    NaN-heavy inputs so most keys are rank-deficient."""
    import pandas as pd
    from pyrate_spark.operators.udf_kernels import (_inverted_keys,
                                                    _pair_arrays,
                                                    _maxvar_array,
                                                    _prep_key,
                                                    _solve_key,
                                                    group_slices)

    rng = np.random.RandomState(hash((method, pthr, use_mst)) % 2**31)
    n_urls, pairs_per, epochs = 60, 40, 24
    n = n_urls * pairs_per
    urls = np.repeat([f"u{i:03d}" for i in range(n_urls)], pairs_per)
    f = rng.randint(0, epochs - 1, n)
    s = np.minimum(f + rng.randint(1, 4, n), epochs - 1)
    f[s <= f] = s[s <= f] - 1
    base = 1700000000
    pdf = pd.DataFrame({
        "url": urls,
        "ts_first": pd.to_datetime(base + f * 21600, unit="s"),
        "ts_second": pd.to_datetime(base + s * 21600, unit="s"),
        "delta_value": rng.randn(n),
        "nan_fraction": np.abs(rng.randn(n)) * 0.1,
    })
    pdf.loc[rng.rand(n) < 0.35, "delta_value"] = np.nan

    batched = list(_inverted_keys(pdf, method, pthr, 2, -1.0,
                                  use_mst, vcm))
    # internal-scalar reference: per-key solve with NO pre-repair
    first_all, second_all, phase_all, weight_all = _pair_arrays(pdf)
    mv_all = _maxvar_array(pdf)
    scalar = []
    for url, idx in group_slices(pdf):
        st = _prep_key(first_all, second_all, phase_all, weight_all,
                       idx, use_mst)
        if st is None:
            continue
        scalar.append((url, *_solve_key(st, mv_all, method, pthr, 2,
                                        -1.0, vcm)))
    assert len(batched) == len(scalar) > 0
    n_def = 0
    for (ub, db, sb, ib, cb), (us, ds, ss, is_, cs) in zip(batched,
                                                           scalar):
        assert ub == us
        np.testing.assert_array_equal(db, ds)
        np.testing.assert_array_equal(
            ib.view(np.uint32), is_.view(np.uint32), err_msg=ub)
        np.testing.assert_array_equal(
            cb.view(np.uint32), cs.view(np.uint32), err_msg=ub)
        n_def += int(np.isnan(ib).any())
    # the input really exercises deficiency
    assert n_def > 0
