"""The whole-stage-codegen cache holds a batch pass's working set.

Spark compiles each distinct generated class with Janino and keeps it in
an LRU cache (``spark.sql.codegen.cache.maxEntries``, default 100). One
batch pass of the engine (the perfbench ``batch_skewed`` chain) needs
more than 100 classes and asks for them in the same order every pass, so
a cache of 100 evicts every class before the next pass wants it again and
each pass recompiles. The session factory sizes the cache to the engine's
working set; here a second identical pass must compile nothing.
"""

from pyspark.sql import functions as F

from pyrate_spark.config import EngineConfig
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators import anomaly, downsample, metrics
from pyrate_spark.operators.asof import asof_join
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.grouped import (detect_hot_keys,
                                            linear_rate_from_pairs)
from pyrate_spark.operators.pairs import network_pairs
from pyrate_spark.operators.rollup import cascade_rollup, tier_rollup
from pyrate_spark.operators.tiersink import decode_tier, encode_tier

HOUR = 3600


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM (one per cache miss)."""
    metrics_src = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics_src.METRIC_COMPILATION_TIME().getCount()


def _empty_codegen_cache(spark) -> None:
    """Drop every cached generated class, so the first run counts the
    chain's whole working set whatever earlier tests compiled."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    module = cls.getField("MODULE$").get(None)
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(module).invalidateAll()


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _batch_chain(spark, pages, tmp_path) -> None:
    """The products of one perfbench ``batch_skewed`` pass."""
    cfg = EngineConfig(ts_method=2, ts_pthr=0, velerror_nsig=1)
    series = extract_series(pages).persist()
    series.count()
    hourly = tier_rollup(series, "1 hour").persist()
    _sink(hourly)
    daily = cascade_rollup(hourly, "1 day").persist()
    _sink(daily)
    _sink(cascade_rollup(daily, "1 week"))
    pairs = network_pairs(series, max_span_days=3,
                          max_pairs_per_epoch=2).persist()
    pairs.count()
    hot = detect_hot_keys(pairs)
    for use_mst in (False, True):
        _sink(linear_rate_from_pairs(pairs, cfg, use_mst=use_mst,
                                     hot_keys=hot))
    encoded = str(tmp_path / "encoded")
    encode_tier(hourly, "1 hour").write.mode("overwrite").parquet(encoded)
    _sink(decode_tier(spark.read.parquet(encoded)))
    _sink(anomaly.anomaly_zscore(hourly))
    _sink(metrics.time_weighted_avg(series, HOUR, max_gap_sec=12 * HOUR))
    _sink(downsample.lttb_downsample(series, 12))
    right = (hourly.where(F.col("value_avg").isNotNull())
             .select("url", "bucket_start",
                     F.col("value_avg").alias("hour_avg")))
    _sink(asof_join(series.select("url", "warc_ts", "value"), right,
                    right_cols=["hour_avg"], tolerance_sec=6 * HOUR))
    for df in (series, hourly, daily, pairs):
        df.unpersist()


def test_warm_batch_pass_compiles_nothing(spark, tmp_path):
    pages = generate_pages(spark, n_urls=60, epochs_per_url=16,
                           hot_urls=2, hot_factor=10, null_pct=10,
                           seed=33).persist()
    pages.count()
    _empty_codegen_cache(spark)
    counts = []
    for _ in range(2):
        before = _compilations(spark)
        _batch_chain(spark, pages, tmp_path)
        counts.append(_compilations(spark) - before)
    pages.unpersist()
    first, second = counts
    # the chain's working set is larger than Spark's default cache, so
    # a pass fits only if the session sized the cache for it
    assert first > 100, counts
    assert second == 0, counts
