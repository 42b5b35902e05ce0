"""Shuffle-free grouped-map path: Spark's planner keeps url clustering,
and the kernels are composition-invariant.

``pin_clustering`` is ``repartition(N, key)`` with N the shuffle
partition count. The planner drops it exactly when the frame's physical
partitioning already puts every key's rows in one of N partitions, so a
grouped kernel adds no exchange there; anywhere else (round-robin
repartition, raw reads, a different key, a rebuilt key column) it stays
one explicit ``REPARTITION_BY_NUM`` exchange on the key, which AQE does
not coalesce.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.grouped import pin_clustering
from pyrate_spark.operators.pairs import network_pairs, sequential_pairs


def _exchanges(df) -> list[str]:
    """Distinct Exchange nodes of the physical plan (by plan id: a
    cached plan's exchanges print once per reference)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sorted({m for m in re.findall(
        r"Exchange ([^\n]*?)\[plan_id=(\d+)\]", plan)})


def _added(df, key: str = "url") -> int:
    """Exchanges ``pin_clustering(df, key)`` plans beyond df's own."""
    return len(_exchanges(pin_clustering(df, key))) - len(_exchanges(df))


def _pinned_exchange(df, key: str = "url") -> bool:
    n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return any(e.startswith(f"hashpartitioning({key}#") and
               e.endswith(f", {n}), REPARTITION_BY_NUM, ")
               for e, _ in _exchanges(pin_clustering(df, key)))


@pytest.fixture(scope="module")
def series(spark):
    return extract_series(generate_pages(
        spark, n_urls=60, epochs_per_url=16, null_pct=10, seed=17))


class TestClusteredByKey:
    def test_true_on_unpersisted_window_output(self, spark, series):
        # the pair network reuses the series' pinned url exchange, an
        # explicit-count one, so AQE cannot coalesce it under a kernel
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        assert _added(p) == 0
        assert [e for e, _ in _exchanges(p)] == [
            e for e, _ in _exchanges(series)]
        assert _pinned_exchange(p)

    def test_true_on_persisted_window_output(self, spark, series):
        p = sequential_pairs(series).persist()
        try:
            p.count()
            assert _added(p) == 0
        finally:
            p.unpersist()

    def test_true_through_projection_of_persisted(self, spark, series):
        p = network_pairs(series, max_span_days=3,
                          max_pairs_per_epoch=2).persist()
        try:
            p.count()
            assert _added(p.select("url", "ts_first", "delta_value")) == 0
        finally:
            p.unpersist()

    def test_false_after_round_robin_repartition(self, spark, series):
        # materialised: directly under the pin, an unpersisted
        # round-robin repartition is collapsed away by the optimizer
        p = network_pairs(series, max_span_days=3,
                          max_pairs_per_epoch=2).repartition(5).persist()
        try:
            p.count()
            assert _added(p) == 1
            assert _pinned_exchange(p)
        finally:
            p.unpersist()

    def test_false_after_repartition_by_other_key(self, spark, series):
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        p = p.repartition(5, "ts_first").persist()
        try:
            p.count()
            assert _added(p) == 1
            assert _pinned_exchange(p)
        finally:
            p.unpersist()

    def test_false_when_key_column_rebuilt(self, spark, series):
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        rebuilt = (p.withColumnRenamed("url", "u")
                   .withColumn("url", F.upper("u")).drop("u"))
        assert _added(rebuilt) == 1
        assert _pinned_exchange(rebuilt)

    def test_false_on_raw_source(self, spark):
        raw = generate_pages(spark, n_urls=20, epochs_per_url=4, seed=17)
        assert _added(raw) == 1
        assert _pinned_exchange(raw)

    def test_false_for_other_name(self, spark, series):
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        assert _added(p, "ts_first") == 1
        assert _pinned_exchange(p, "ts_first")


class TestOneKeyedPath:
    """The grouped kernels' plans over the pipeline ``batch_skewed``
    runs: persisted series, then the persisted pair network."""

    @pytest.fixture(scope="class")
    def pairs(self, spark):
        s = extract_series(generate_pages(
            spark, n_urls=80, epochs_per_url=12, hot_urls=2, hot_factor=15,
            null_pct=10, seed=23)).persist()
        p = network_pairs(s, max_span_days=3,
                          max_pairs_per_epoch=2).persist()
        p.count()
        yield p
        p.unpersist()
        s.unpersist()

    @staticmethod
    def _kernels(pairs):
        from pyrate_spark.config import EngineConfig
        from pyrate_spark.operators.grouped import (detect_hot_keys,
                                                    linear_rate_from_pairs,
                                                    timeseries_per_url)
        hot = detect_hot_keys(pairs)
        assert hot
        cfg = EngineConfig(ts_method=2, ts_pthr=0)
        return hot, {
            "rates": linear_rate_from_pairs(pairs, cfg, use_mst=False,
                                            hot_keys=hot),
            "rates_mst": linear_rate_from_pairs(pairs, cfg, use_mst=True,
                                                hot_keys=hot),
            "timeseries": timeseries_per_url(pairs, cfg, use_mst=False,
                                             hot_keys=hot)}

    def test_clustered_input_adds_only_the_hot_range(self, spark, pairs):
        own = len(_exchanges(pairs))
        hot, kernels = self._kernels(pairs)
        for name, out in kernels.items():
            exs = _exchanges(out)
            assert len(exs) == own + 1, name
            ranges = [e for e, _ in exs
                      if e.startswith("rangepartitioning(url#")]
            assert len(ranges) == 1, name
            assert ranges[0].endswith(
                f", {len(hot)}), REPARTITION_BY_NUM, "), name

    def test_unclustered_input_adds_one_pinned_exchange(self, spark,
                                                        pairs):
        scrambled = pairs.repartition(7).persist()
        try:
            scrambled.count()
            n = spark.conf.get("spark.sql.shuffle.partitions")

            def pinned(df):
                return sum(1 for e, _ in _exchanges(df) if e.startswith(
                    "hashpartitioning(url#") and e.endswith(
                    f", {n}), REPARTITION_BY_NUM, "))

            own = len(_exchanges(scrambled))
            _, kernels = self._kernels(scrambled)
            for name, out in kernels.items():
                # the pinned url exchange, plus the hot range spread
                assert len(_exchanges(out)) == own + 2, name
                assert pinned(out) == pinned(scrambled) + 1, name
        finally:
            scrambled.unpersist()

    def test_no_plan_salts_a_bucket(self, spark, pairs):
        _, kernels = self._kernels(pairs)
        for out in kernels.values():
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "_bucket" not in plan


class TestSegmentRegressionInvariance:
    def test_matches_scalar_linregress_any_composition(self):
        from pyrate_spark.kernels.linalg import (linregress,
                                                 linregress_segments)
        rng = np.random.default_rng(5)
        lens = [2, 7, 31, 4, 19, 3]
        ts = [np.sort(rng.uniform(0, 3, n)) for n in lens]
        ys = [rng.normal(0, 1, n) for n in lens]
        for y in ys[1:]:
            y[rng.integers(0, len(y))] = np.nan   # NaN-awareness
        starts = np.cumsum([0] + [len(t) for t in ts[:-1]])
        s, i_, r2, se, n = linregress_segments(
            np.concatenate(ts), np.concatenate(ys), starts)
        # per-key results identical when the key is alone in the batch
        for k in range(len(lens)):
            s1, i1, r21, se1, n1 = linregress_segments(
                ts[k], ys[k], np.array([0]))
            assert s[k] == s1[0] or (np.isnan(s[k]) and np.isnan(s1[0]))
            assert se[k] == se1[0] or (np.isnan(se[k])
                                       and np.isnan(se1[0]))
        # and agree with the scalar closed form on clean segments
        m = ~np.isnan(ys[2])
        ssc, isc, rsc, sesc = linregress(ts[2][m], ys[2][m])
        assert s[2] == pytest.approx(ssc, rel=1e-12)
        assert r2[2] == pytest.approx(rsc * rsc, rel=1e-12)


class TestSeriesClustering:
    def test_extract_series_clusters_batch_frames(self, spark):
        s = extract_series(generate_pages(spark, n_urls=40,
                                          epochs_per_url=6, seed=3)
                           ).persist()
        try:
            s.count()
            assert _added(s) == 0
            # and the opt-out stays a pure narrow projection
            s2 = extract_series(generate_pages(spark, n_urls=40,
                                               epochs_per_url=6, seed=3),
                                cluster_by_url=False)
            plan = s2._jdf.queryExecution().executedPlan().toString()
            assert "REPARTITION_BY" not in plan
        finally:
            s.unpersist()

    def test_extract_series_never_repartitions_streams(self, spark,
                                                       tmp_path):
        p = str(tmp_path / "pages")
        generate_pages(spark, n_urls=10, epochs_per_url=4,
                       seed=3).write.parquet(p)
        stream = (spark.readStream
                  .schema("url string, warc_ts timestamp, html binary, "
                          "text string, lang string").parquet(p))
        out = extract_series(stream)
        assert out.isStreaming
        plan = out._jdf.queryExecution().logical().toString()
        assert "Repartition" not in plan
