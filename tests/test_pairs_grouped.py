"""Pair network (J1/J5) + grouped-map kernel parity.

Parity strategy per SURVEY.md §5: the cluster result of
groupBy(bucket).applyInPandas(kernel) must equal running the same numpy
kernel on the locally-collected pandas data (SNIPPETS.md [2] pattern),
and the single-key oracles (FIXTURES.md F3) must come out of the
*DataFrame* path bit-for-bit with the kernel path.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyrate_spark.config import EngineConfig
from pyrate_spark.kernels.epochs import SECONDS_PER_YEAR, epochs_from_pairs
from pyrate_spark.kernels.linalg import linregress
from pyrate_spark.kernels.stack import stack_rate_pixel
from pyrate_spark.kernels.timeseries import time_series_pixel
from pyrate_spark.operators.grouped import (keyed_apply,
                                            linear_rate_per_url,
                                            mask_rate_df, mst_annotate,
                                            stack_rate_per_url,
                                            temporal_highpass_per_url,
                                            timeseries_per_url)
from pyrate_spark.operators.pairs import (epoch_ids, network_pairs,
                                          sequential_pairs)

BASE = dt.datetime(2024, 1, 1)


def _ts(years: float) -> dt.datetime:
    return BASE + dt.timedelta(seconds=years * SECONDS_PER_YEAR)


@pytest.fixture(scope="module")
def oracle_pairs(spark):
    """The reference's 8-obs/6-epoch network (test_timeseries.py:91-95)
    as a pairs DataFrame for one url."""
    epochs = [0.0, 0.1, 0.6, 0.8, 1.1, 1.3]
    ifirst = [1, 1, 2, 2, 3, 3, 4, 5]
    isecond = [2, 4, 3, 4, 5, 6, 6, 6]
    phase = [0.5, 4, 2.5, 3.5, 2.5, 3.5, 2.5, 1]
    nanfrac = [0.5, 0.4, 0.2, 0.3, 0.1, 0.3, 0.2, 0.1]
    rows = [("u1", _ts(epochs[f - 1]), _ts(epochs[s - 1]), float(p),
             epochs[s - 1] - epochs[f - 1], float(nf))
            for f, s, p, nf in zip(ifirst, isecond, phase, nanfrac)]
    return spark.createDataFrame(
        rows, "url string, ts_first timestamp, ts_second timestamp, "
              "delta_value double, time_span double, nan_fraction double")


class TestPairBuilding:
    @pytest.fixture(scope="class")
    def series(self, spark):
        rows = []
        for u, n in (("a", 6), ("b", 4)):
            for k in range(n):
                rows.append((u, BASE + dt.timedelta(days=k),
                             float(k * k)))
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, value double")

    def test_epoch_ids(self, series):
        out = epoch_ids(series).orderBy("url", "warc_ts").toPandas()
        assert out[out.url == "a"]["epoch_id"].tolist() == list(range(6))
        assert out[out.url == "b"]["epoch_id"].tolist() == list(range(4))
        spans = out[out.url == "a"]["span_years"].to_numpy()
        np.testing.assert_allclose(np.diff(spans), 86400 / SECONDS_PER_YEAR)

    def test_sequential_pairs(self, series):
        out = sequential_pairs(series).orderBy("url", "ts_first").toPandas()
        a = out[out.url == "a"]
        assert len(a) == 5
        np.testing.assert_allclose(
            a["delta_value"].to_numpy(),
            np.diff(np.arange(6.0) ** 2))
        np.testing.assert_allclose(a["time_span"].to_numpy(),
                                   86400 / SECONDS_PER_YEAR)

    def test_network_pairs_fanout_and_cap(self, series):
        out = network_pairs(series, max_span_days=2, max_pairs_per_epoch=2)
        df = out.orderBy("url", "ts_first", "ts_second").toPandas()
        a = df[df.url == "a"]
        # epochs 0..5 daily; span cap 2d, k=2 -> epoch0 pairs with 1,2
        first_counts = a.groupby("ts_first").size()
        assert first_counts.max() <= 2
        # delta correctness: (0->1): 1-0=1; (0->2): 4-0=4
        assert a.iloc[0]["delta_value"] == pytest.approx(1.0)
        assert a.iloc[1]["delta_value"] == pytest.approx(4.0)
        # nan_fraction 0 everywhere (no nulls)
        assert (a["nan_fraction"] == 0.0).all()

    def test_window_path_equals_range_join(self, spark):
        """r7: the default lead()-window construction is bit-equal to
        the retained range self-join on unique-keyed input (nulls and
        irregular gaps included), and its plan has no Join node."""
        from pyrate_spark.datagen import generate_pages
        from pyrate_spark.operators.extract import extract_series
        s = extract_series(generate_pages(
            spark, n_urls=17, epochs_per_url=40, step_hours=7,
            null_pct=25, seed=11))
        # knock out some rows so per-url grids are irregular
        s = s.where(F.pmod(F.hash("url", "warc_ts"), F.lit(5)) != 0)
        kw = dict(max_span_days=2, max_pairs_per_epoch=3)
        win = network_pairs(s, via="window", **kw)
        rj = network_pairs(s, via="range_join", **kw)
        assert "Join" not in win._jdf.queryExecution().executedPlan().toString()
        cols = ["url", "ts_first", "ts_second"]
        a = win.orderBy(*cols).toPandas()
        b = rj.orderBy(*cols).toPandas()
        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 0

    def test_network_pairs_via_rejects_unknown(self, series):
        with pytest.raises(ValueError):
            network_pairs(series, via="sort_merge")


class TestTimeseriesGrouped:
    def test_oracle_through_dataframe(self, spark, oracle_pairs):
        """tscuml [0.5, 3, 4, 5.5, 6.5] out of the full Spark path."""
        cfg = EngineConfig(ts_method=2, ts_pthr=0)
        out = (timeseries_per_url(oracle_pairs, cfg, use_mst=True)
               .orderBy("epoch_id").toPandas())
        assert out["epoch_id"].tolist() == [0, 1, 2, 3, 4, 5]
        assert out["tscuml"].iloc[0] == 0.0
        np.testing.assert_array_almost_equal(
            out["tscuml"].to_numpy()[1:], [0.50, 3.0, 4.0, 5.5, 6.5],
            decimal=2)

    def test_parity_vs_local_pandas(self, spark):
        """Cluster result == local kernel run (SNIPPETS [2] shape)."""
        from pyrate_spark.datagen import generate_pages
        from pyrate_spark.operators.extract import extract_series
        pages = generate_pages(spark, n_urls=12, epochs_per_url=16,
                               seed=3, null_pct=10)
        s = extract_series(pages)
        pairs = network_pairs(s, max_span_days=10, max_pairs_per_epoch=3)
        cfg = EngineConfig(ts_method=2, ts_pthr=0)
        got = (timeseries_per_url(pairs, cfg, use_mst=False)
               .orderBy("url", "epoch_id").toPandas())
        local = pairs.toPandas()
        rows = []
        for url, g in local.groupby("url"):
            fs = g["ts_first"].to_numpy().astype("datetime64[s]").astype(np.int64)
            ss = g["ts_second"].to_numpy().astype("datetime64[s]").astype(np.int64)
            dates, spans, ifirst, isecond = epochs_from_pairs(fs, ss)
            if len(dates) < 2:
                continue
            phase = g["delta_value"].to_numpy(dtype=np.float64)
            _, tsincr, tscuml = time_series_pixel(
                phase, ifirst, isecond, spans, method=2, pthresh=0)
            for j in range(1, len(dates)):
                rows.append((url, j, tscuml[j - 1]))
        exp = pd.DataFrame(rows, columns=["url", "epoch_id", "tscuml"])
        got1 = got[got.epoch_id > 0].reset_index(drop=True)
        merged = exp.merge(got1, on=["url", "epoch_id"],
                           suffixes=("_exp", "_got"))
        assert len(merged) == len(exp)
        np.testing.assert_allclose(
            merged["tscuml_got"].to_numpy(dtype=float),
            merged["tscuml_exp"].to_numpy(dtype=float),
            rtol=1e-5, equal_nan=True)


class TestStackGrouped:
    def test_stack_oracle_through_dataframe(self, spark):
        """rate 5.0 / error (x nsig=2) / samples 5 via the full path
        (test_stackrate.py:66-75; the MST mask is induced by making
        obs[4] the duplicate-pair loser... we instead pass use_mst=False
        with a NaN at index 4: stack drops NaN obs from the mask
        (stack.py:185))."""
        spans = [0.1, 0.7, 0.8, 0.5, 0.7, 0.2]
        phase = [0.5, 3.5, 4.0, 2.5, np.nan, 1.0]
        rows = []
        for i, (sp, ph) in enumerate(zip(spans, phase)):
            t0 = 0.05 * i               # distinct epochs; spans carried explicitly
            rows.append(("u1", _ts(t0), _ts(t0 + sp),
                         None if np.isnan(ph) else float(ph), sp, 0.0))
        pairs = spark.createDataFrame(
            rows, "url string, ts_first timestamp, ts_second timestamp, "
                  "delta_value double, time_span double, nan_fraction double")
        cfg = EngineConfig(nsig=3, pthr=3, maxsig=2, velerror_nsig=1)
        out = stack_rate_per_url(pairs, cfg, use_mst=False).toPandas()
        assert len(out) == 1
        assert out["rate"].iloc[0] == pytest.approx(5.0)
        assert out["error"].iloc[0] == pytest.approx(0.836242010007091)
        assert out["samples"].iloc[0] == 5

    def test_mask_rate_df(self, spark):
        rates = spark.createDataFrame(
            [("a", 5.0, 1.1, 3), ("b", 4.5, 2.1, 3)],
            "url string, rate double, error double, samples int")
        out = mask_rate_df(rates, 2).orderBy("url").toPandas()
        assert out["rate_masked"].iloc[0] == 5.0
        assert pd.isna(out["rate_masked"].iloc[1])


class TestLinearRateGrouped:
    def test_matches_scalar_kernel(self, spark):
        rows = []
        t = np.arange(6.0)
        for u, slope in (("a", 2.0), ("b", -1.5)):
            for k in range(6):
                rows.append((u, 1 + k,
                             _ts(t[k] / 10.0), float(slope * t[k] / 10.0)))
        df = spark.createDataFrame(
            rows, "url string, epoch_id int, epoch_ts timestamp, tscuml double")
        cfg = EngineConfig(velerror_nsig=1)
        out = linear_rate_per_url(df, cfg).orderBy("url").toPandas()
        assert out["rate"].iloc[0] == pytest.approx(2.0)
        assert out["rate"].iloc[1] == pytest.approx(-1.5)
        assert out["rsquared"].iloc[0] == pytest.approx(1.0)
        assert out["samples"].iloc[0] == 6


class TestMstAnnotate:
    def test_tree_selection(self, spark, oracle_pairs):
        out = mst_annotate(oracle_pairs).toPandas()
        # 6 epochs -> spanning tree has 5 edges
        assert out["in_mst"].sum() == 5
        # lowest-nan_fraction edges win: (3,5) nf=.1 and (5,6) nf=.1 included
        sel = out[out.in_mst].sort_values("nan_fraction")
        assert sel["nan_fraction"].iloc[0] == pytest.approx(0.1)


class TestTemporalHighpass:
    def test_constant_series_zero_hp(self, spark):
        rows = [("a", BASE + dt.timedelta(days=30 * k), 7.0)
                for k in range(12)]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, value double")
        cfg = EngineConfig(tlpf_cutoff_days=30, tlpf_pthr=1)
        out = temporal_highpass_per_url(df, cfg).toPandas()
        np.testing.assert_allclose(out["value_hp"].to_numpy(), 0.0,
                                   atol=1e-9)
        np.testing.assert_allclose(out["value_lp"].to_numpy(), 7.0)


class TestHotKeySpread:
    def test_hot_key_isolated(self, spark):
        """A key above 8x the mean row count runs in a partition of its
        own; every other key shares the url-clustered partitions."""
        rows = [("hot", float(i)) for i in range(500)] + \
               [(f"u{i}", float(i)) for i in range(50)]
        df = spark.createDataFrame(rows, "url string, v double")
        out = keyed_apply(df, "url", lambda pdf: pdf, "url string, v double")
        pdf = (out.withColumn("pid", F.spark_partition_id())
               .groupBy("url", "pid").count().toPandas())
        hot_pids = set(pdf[pdf.url == "hot"]["pid"])
        cold_pids = set(pdf[pdf.url != "hot"]["pid"])
        assert len(hot_pids) == 1
        assert not hot_pids & cold_pids
        assert pdf["count"].sum() == len(rows)


def test_pair_lookup_broadcast_join(spark):
    """J2: composite-key lookup returns exactly the wanted pairs."""
    import datetime as dt
    from pyrate_spark.operators.pairs import pair_lookup
    base = dt.datetime(2024, 1, 1)
    t = [base + dt.timedelta(days=k) for k in range(4)]
    pairs = spark.createDataFrame(
        [("u", t[0], t[1], 1.0), ("u", t[1], t[2], 2.0),
         ("v", t[0], t[1], 3.0)],
        "url string, ts_first timestamp, ts_second timestamp, "
        "delta_value double")
    wanted = spark.createDataFrame(
        [(t[0], t[1])], "ts_first timestamp, ts_second timestamp")
    got = pair_lookup(pairs, wanted).toPandas()
    assert sorted(got["url"]) == ["u", "v"]
    assert (got["delta_value"].isin([1.0, 3.0])).all()
    # broadcast side is in the plan
    plan = pair_lookup(pairs, wanted)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Broadcast" in plan


def test_file_pairing_uniqueness_gate(spark):
    """J4/S10: aux join with the reference's duplicate-match error
    (prepifg_helper.py:405-433)."""
    import datetime as dt
    import pytest
    from pyrate_spark.operators.pairs import file_pairing
    base = dt.datetime(2024, 1, 1)
    obs = spark.createDataFrame(
        [("u", base, 1.0)], "url string, warc_ts timestamp, value double")
    aux = spark.createDataFrame(
        [(base, "f1")], "warc_ts timestamp, fname string")
    got = file_pairing(obs, aux, ["warc_ts"]).toPandas()
    assert got["fname"].tolist() == ["f1"]
    dup = spark.createDataFrame(
        [(base, "f1"), (base, "f2")], "warc_ts timestamp, fname string")
    with pytest.raises(ValueError, match="duplicate auxiliary"):
        file_pairing(obs, dup, ["warc_ts"])
