"""Tier rollups, cascading continuous aggregates, retention, gap-fill.

D1 (the heart of the engine): the reference's multilook block-average
with NaN-threshold (legacy `_resample` /root/reference/pyrate/core/
prepifg_helper.py:206-237 and the fused two-band gdal variant
gdal_python.py:296-324) becomes ONE hash aggregation per tier:
``groupBy(url, window(warc_ts, tier))`` computing the mean, the
null-fraction and the count in a single shuffle — Catalyst fuses the
three aggregates exactly like the reference's 2-band trick. The output
cell is NULL iff ``null_fraction >= thresh`` with the reference's
``nan_fraction == 0 and thresh == 0`` escape (prepifg_helper.py:235).

D2 retention-crop = partition-prunable timestamp predicates
(prepifg_helper.py:51-152 extent modes -> min/max over per-url extents).
D3 nearest-neighbour downsample = last-sample-in-bucket
(gdal_python.py:89-106).

Tiers cascade (raw->hour->day->week) the way the reference cascades
multilooks: each tier aggregates the previous one, so the daily pass
reads 24x fewer rows than raw — at 100 TB this is the difference
between one full scan per tier and one full scan total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TIER_SECONDS = {"1 hour": 3600, "1 day": 86400, "1 week": 604800}


def _cluster_by(df: DataFrame, key: str = "url") -> DataFrame:
    """Pin a tier aggregation's exchange to hash(``key``) instead of
    the finer (key, window) key Spark would pick (r8, guide §2.4 "two
    operations keyed the same way share one exchange").

    The aggregation needs exactly one exchange either way —
    HashPartitioning(url) satisfies ClusteredDistribution(url, window)
    because every (url, window) group is within one url — but keying
    it by url makes the TIER'S OWN partitioning reusable: every
    url-keyed consumer (anomaly windows, cascade aggregations, the
    grouped-map kernels' ``repartition(N, url)``, per-url folds) then
    plans ZERO further exchanges. Measured on the bench: the hourly
    tier feeds 6+ downstream url-keyed stages that each paid a full
    re-shuffle of ~1M rows.

    Trade-off, documented: the shuffle moves RAW rows instead of
    (url, window)-partial aggregates. For time-grid sources (this
    engine's contract: rows per url bounded by the crawl/retention
    window, ~1 row per tier bucket) the partial-aggregation saving is
    nil and the clustering reuse wins outright; for sources with many
    rows per (url, window) cell, pre-aggregate before calling the
    rollup. Skew bound: one url's rows all land in one partition —
    the same bound every per-url window operator here already lives
    under. Streaming frames pass through untouched (stateful
    aggregation manages its own partitioning). On inputs already
    hash-clustered by ``key`` (cascade-of-cascade chains, a persisted
    clustered series) Spark's planner drops the repartition itself:
    ``EnsureRequirements`` removes a user repartition whose child
    already has the same hash partitioning."""
    if df.isStreaming:
        return df
    return df.repartition(key)


def tier_rollup(series: DataFrame, tier: str = "1 hour",
                thresh: float = 0.5, value_col: str = "value") -> DataFrame:
    """Raw series -> one tier: (url, bucket_start, value_avg,
    null_fraction, n_obs). Single shuffle on (url, bucket)."""
    if not 0.0 <= thresh <= 1.0:
        raise ValueError("threshold must be >= 0 and <= 1")  # prepifg_helper.py:219-220
    win = F.window("warc_ts", tier)
    agg = (_cluster_by(series)
           .groupBy("url", win.alias("w"))
           .agg(F.avg(value_col).alias("_avg"),
                F.avg(F.when(F.col(value_col).isNull(), 1.0)
                       .otherwise(0.0)).alias("null_fraction"),
                F.count(F.lit(1)).alias("n_obs")))
    keep = (F.col("null_fraction") < F.lit(thresh)) | \
           ((F.col("null_fraction") == 0.0) & (F.lit(thresh) == 0.0))
    return agg.select(
        "url",
        F.col("w.start").alias("bucket_start"),
        F.when(keep, F.col("_avg")).otherwise(F.lit(None)).alias("value_avg"),
        "null_fraction",
        "n_obs",
    )


def tier_rollup_stats(series: DataFrame, tier: str = "1 hour",
                      value_col: str = "value",
                      quantiles: tuple = (0.5, 0.95)) -> DataFrame:
    """Order-statistics continuous aggregate (r5): per (url, bucket)
    exact min / max / discrete quantiles over the valid values — the
    per-bucket quality-percentile columns a training-data pipeline
    keeps next to the mean tier. One shuffle, no UDF.

    Quantiles are EXACT lower-discrete (element at 1-based index
    ceil(q*n) of the sorted valid values), not percentile_approx: the
    sketch's error bounds are engine-specific, while element selection
    is bit-reproducible and a SQL oracle can replay it verbatim.
    Per-bucket sorted lists are bounded by the raw-per-bucket fanout
    (tens of rows at hourly grain, the reference multilook shape). At
    coarser tiers compute stats from raw with a wider window — order
    statistics don't cascade (the standard continuous-aggregate
    trade-off for percentiles; means/counts cascade via
    ``cascade_rollup``)."""
    win = F.window("warc_ts", tier)
    v = F.col(value_col)
    agg = (_cluster_by(series)
           .groupBy("url", win.alias("w"))
           .agg(F.min(v).alias("vmin"),
                F.max(v).alias("vmax"),
                F.sort_array(F.collect_list(v)).alias("_sorted"),
                F.count(v).alias("n_valid"),
                F.count(F.lit(1)).alias("n_obs")))
    n = F.col("n_valid")
    cols = ["url", F.col("w.start").alias("bucket_start"),
            "vmin", "vmax"]
    for q in quantiles:
        idx = F.greatest(F.ceil(n * F.lit(float(q))).cast("int"),
                         F.lit(1))
        cols.append(F.when(n > 0, F.element_at("_sorted", idx))
                    .alias(f"p{int(round(q * 100)):02d}"))
    cols += ["n_valid", "n_obs"]
    return agg.select(*cols)


def cascade_rollup(prev_tier: DataFrame, tier: str,
                   thresh: float = 0.5) -> DataFrame:
    """tier N-1 -> tier N without touching raw data. Means are weighted
    by n_obs so the cascade is exact (equals a direct rollup of raw);
    null_fraction likewise re-weights the child fractions."""
    win = F.window("bucket_start", tier)
    n_valid = F.col("n_obs") * (1.0 - F.col("null_fraction"))
    agg = (_cluster_by(prev_tier)
           .groupBy("url", win.alias("w"))
           .agg((F.sum(F.col("value_avg") * n_valid)
                 / F.sum(F.when(F.col("value_avg").isNotNull(), n_valid)
                          .otherwise(0.0))).alias("_avg"),
                (F.sum(F.col("null_fraction") * F.col("n_obs"))
                 / F.sum("n_obs")).alias("null_fraction"),
                F.sum("n_obs").alias("n_obs")))
    keep = (F.col("null_fraction") < F.lit(thresh)) | \
           ((F.col("null_fraction") == 0.0) & (F.lit(thresh) == 0.0))
    return agg.select(
        "url",
        F.col("w.start").alias("bucket_start"),
        F.when(keep, F.col("_avg")).otherwise(F.lit(None)).alias("value_avg"),
        "null_fraction",
        "n_obs",
    )


def nn_downsample(series: DataFrame, tier: str = "1 hour",
                  value_col: str = "value") -> DataFrame:
    """D3: nearest-neighbour = last sample in the bucket
    (max_by on the event time; one shuffle, no window function)."""
    win = F.window("warc_ts", tier)
    # struct-max keeps a NULL last value as NULL (max_by would skip it);
    # ties on the timestamp break on the larger value, deterministically
    last = F.max(F.struct(F.col("warc_ts").alias("ts"),
                          F.col(value_col).alias("v")))
    return (_cluster_by(series)
            .groupBy("url", win.alias("w"))
            .agg(last.alias("_last"),
                 F.count(F.lit(1)).alias("n_obs"))
            .select("url", F.col("w.start").alias("bucket_start"),
                    F.col("_last.v").alias("value_last"),
                    F.col("_last.ts").alias("last_ts"), "n_obs"))


def retention_crop(df: DataFrame, mode: int = 3, ts_col: str = "warc_ts",
                   lo=None, hi=None) -> DataFrame:
    """D2 extent crop. mode 1 = intersection of per-url extents
    (max of min-ts, min of max-ts over urls); mode 2 = union; mode 3 =
    custom [lo, hi) bounds — a plain partition-prunable predicate
    (prepifg_helper.py:51-152 crop modes)."""
    if mode == 3:
        out = df
        if lo is not None:
            out = out.where(F.col(ts_col) >= F.lit(lo))
        if hi is not None:
            out = out.where(F.col(ts_col) < F.lit(hi))
        return out
    ext = df.groupBy("url").agg(F.min(ts_col).alias("mn"),
                                F.max(ts_col).alias("mx"))
    if mode == 1:      # intersection: tightest common window
        b = ext.agg(F.max("mn").alias("lo"), F.min("mx").alias("hi"))
    elif mode == 2:    # union: loosest window (no-op filter, kept for parity)
        b = ext.agg(F.min("mn").alias("lo"), F.max("mx").alias("hi"))
    else:
        raise ValueError(f"unknown crop mode {mode}")
    bounds = b.first()
    return df.where((F.col(ts_col) >= F.lit(bounds["lo"]))
                    & (F.col(ts_col) <= F.lit(bounds["hi"])))


def gapfill_tier(tier_df: DataFrame, tier: str = "1 hour",
                 method: str = "locf") -> DataFrame:
    """T17 gap-fill on a tier: materialise the full per-url bucket grid
    with ``sequence()`` + explode (no Python), left-join the observed
    buckets, then fill. ``locf`` = last observation carried forward via
    ``last(..., ignorenulls)`` over an ordered window; ``zero`` = 0.0;
    ``interp`` = linear interpolation between the bracketing observed
    buckets (TimescaleDB ``interpolate()`` semantics — edges outside
    the first/last observation stay NULL), matching the reference's
    temporal interpolation of correction surfaces (aps.py — the NaN
    pixels are time-interpolated before the low-pass).

    The grid join is co-partitioned on url (both sides shuffle on the
    same key once); the windows reuse that partitioning — no extra
    exchange at scale (interp's two windows share one sort: same
    partition key, mirrored frames).
    """
    step = TIER_SECONDS[tier]
    grid = (tier_df.groupBy("url")
            .agg(F.min("bucket_start").alias("mn"),
                 F.max("bucket_start").alias("mx"))
            .select("url", F.explode(
                F.sequence("mn", "mx",
                           F.expr(f"INTERVAL {step} SECONDS"))
            ).alias("bucket_start")))
    joined = grid.join(tier_df, ["url", "bucket_start"], "left")
    if method == "zero":
        return joined.withColumn(
            "value_filled", F.coalesce("value_avg", F.lit(0.0)))
    from pyspark.sql import Window
    w = (Window.partitionBy("url").orderBy("bucket_start")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    if method == "locf":
        return joined.withColumn(
            "value_filled",
            F.last("value_avg", ignorenulls=True).over(w))
    if method != "interp":
        raise ValueError(f"unknown gap-fill method {method!r}")
    # the observation travels as one non-null struct so the two
    # ignorenulls windows skip gap rows and below-threshold buckets
    # identically; _t in unix seconds keeps the lerp in pure column
    # arithmetic
    obs = F.when(
        F.col("value_avg").isNotNull(),
        F.struct(F.unix_timestamp("bucket_start").alias("_t"),
                 F.col("value_avg").alias("_v")))
    wn = (Window.partitionBy("url").orderBy("bucket_start")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    prev = F.last(obs, ignorenulls=True).over(w)
    nxt = F.first(obs, ignorenulls=True).over(wn)
    t = F.unix_timestamp("bucket_start")
    lerp = (prev["_v"] + (nxt["_v"] - prev["_v"])
            * (t - prev["_t"]) / (nxt["_t"] - prev["_t"]))
    return joined.withColumn(
        "value_filled",
        F.when(F.col("value_avg").isNotNull(), F.col("value_avg"))
        .when(prev.isNotNull() & nxt.isNotNull(), lerp))


def ohlc_rollup(series: DataFrame, tier: str = "1 hour",
                value_col: str = "value",
                ts_col: str = "warc_ts") -> DataFrame:
    """Candlestick continuous aggregate (TimescaleDB candlestick_agg;
    the financial OHLC bar): per (url, bucket) the time-ordered open
    and close values with their timestamps, plus high/low, over the
    valid (non-NULL) observations. Buckets with no valid observation
    are dropped — a candle needs at least one trade.

    All five value columns are raw input values passed through (no
    arithmetic), so the SQL oracle needs no rounding. Unlike
    ``tier_rollup_stats``'s order statistics, OHLC is MERGEABLE:
    ``ohlc_cascade`` rolls tier N-1 candles into tier N exactly
    (open = open of earliest child, close = close of latest, high/low
    = max/min), so coarse tiers never rescan raw data. One hash
    aggregation, one shuffle, no window, no UDF. Requires unique
    (url, ts) within a bucket for deterministic endpoints — canonical
    sources collapse duplicates upstream (``_events`` contract, same
    as network_pairs)."""
    v, ts = F.col(value_col), F.col(ts_col)
    valid_ts = F.when(v.isNotNull(), ts)     # min_by/max_by skip NULL keys
    win = F.window(ts_col, tier)
    return (_cluster_by(series)
            .groupBy("url", win.alias("w"))
            .agg(F.min_by(v, valid_ts).alias("open"),
                 F.max(v).alias("high"),
                 F.min(v).alias("low"),
                 F.max_by(v, valid_ts).alias("close"),
                 F.min(valid_ts).alias("open_ts"),
                 F.max(valid_ts).alias("close_ts"),
                 F.count(v).alias("n_valid"))
            .where(F.col("n_valid") > 0)
            .select("url", F.col("w.start").alias("bucket_start"),
                    "open", "high", "low", "close",
                    "open_ts", "close_ts", "n_valid"))


def ohlc_cascade(prev_tier: DataFrame, tier: str) -> DataFrame:
    """Candle N-1 -> candle N without touching raw data (TimescaleDB
    `rollup(candlestick_agg)`): endpoints selected by child endpoint
    timestamps, extrema by min/max — exact, equal to a direct
    ``ohlc_rollup`` of raw at the coarser tier (pytest-pinned
    bit-equality)."""
    win = F.window("bucket_start", tier)
    return (_cluster_by(prev_tier)
            .groupBy("url", win.alias("w"))
            .agg(F.min_by("open", "open_ts").alias("open"),
                 F.max("high").alias("high"),
                 F.min("low").alias("low"),
                 F.max_by("close", "close_ts").alias("close"),
                 F.min("open_ts").alias("open_ts"),
                 F.max("close_ts").alias("close_ts"),
                 F.sum("n_valid").alias("n_valid"))
            .select("url", F.col("w.start").alias("bucket_start"),
                    "open", "high", "low", "close",
                    "open_ts", "close_ts", "n_valid"))


def histogram_rollup(series: DataFrame, tier: str = "1 hour",
                     lo: float = 0.0, hi: float = 1.0, n_bins: int = 16,
                     value_col: str = "value",
                     ts_col: str = "warc_ts") -> DataFrame:
    """Mergeable fixed-bin histogram tier (TimescaleDB ``histogram(v,
    lo, hi, n)``; the Prometheus classic-histogram bucket role): per
    (url, bucket) the EXACT integer count per bin, with dedicated
    underflow (v < lo) and overflow (v >= hi) edge bins — ``counts``
    has n_bins + 2 entries, index 0 = underflow, n_bins + 1 = overflow.

    This is the scale path for percentiles that ``tier_rollup_stats``'s
    docstring defers: order statistics don't cascade, binned histograms
    do — ``histogram_cascade`` sums bins elementwise, so any coarser
    tier's distribution (and a quantile estimate from it,
    ``histogram_quantile_est``) comes from the finer tier without
    rescanning raw. One hash aggregation (n_bins + 2 fused count-when
    aggregates — the same two-band trick as tier_rollup), one shuffle,
    no window, no UDF; counts are integers so cross-engine gates need
    no rounding. Bin index is ``floor((v - lo) / width)`` with width
    precomputed — replicate the same expression in any replay so IEEE
    division agrees bit-for-bit."""
    if n_bins < 1 or not hi > lo:
        raise ValueError(f"need n_bins >= 1 and hi > lo: {n_bins}, "
                         f"[{lo}, {hi})")
    v = F.col(value_col)
    width = (hi - lo) / n_bins
    idx = (F.when(v.isNull(), None)
            .when(v < F.lit(lo), 0)
            .when(v >= F.lit(hi), n_bins + 1)
            .otherwise(F.floor((v - F.lit(lo)) / F.lit(width))
                       .cast("int") + 1))
    win = F.window(ts_col, tier)
    cnt = [F.count(F.when(idx == i, 1)).alias(f"_b{i}")
           for i in range(n_bins + 2)]
    return (_cluster_by(series)
            .groupBy("url", win.alias("w"))
            .agg(*cnt, F.count(v).alias("n_valid"))
            .select("url", F.col("w.start").alias("bucket_start"),
                    F.array(*[F.col(f"_b{i}")
                              for i in range(n_bins + 2)]).alias("counts"),
                    "n_valid"))


def histogram_cascade(hist_df: DataFrame, tier: str,
                      n_bins: int = 16) -> DataFrame:
    """Histogram tier N-1 -> tier N by elementwise bin summation —
    exact (integer addition commutes), equal to a direct
    ``histogram_rollup`` of raw at the coarser tier. ``n_bins`` must
    match the producer's."""
    win = F.window("bucket_start", tier)
    sums = [F.sum(F.element_at("counts", i + 1)).alias(f"_b{i}")
            for i in range(n_bins + 2)]
    return (_cluster_by(hist_df)
            .groupBy("url", win.alias("w"))
            .agg(*sums, F.sum("n_valid").alias("n_valid"))
            .select("url", F.col("w.start").alias("bucket_start"),
                    F.array(*[F.col(f"_b{i}")
                              for i in range(n_bins + 2)]).alias("counts"),
                    "n_valid"))


def histogram_quantile_est(hist_df: DataFrame, q: float,
                           lo: float = 0.0, hi: float = 1.0,
                           n_bins: int = 16) -> DataFrame:
    """Quantile estimate from a binned histogram tier (the Prometheus
    histogram_quantile recipe on classic buckets): find the first
    in-range bin whose running count reaches ``ceil(q * n_in)`` and
    interpolate linearly inside it. Underflow clamps to ``lo``,
    overflow to ``hi`` (Prometheus's +Inf -> highest-finite rule).
    Estimation error is bounded by one bin width — the documented
    cascade trade-off vs tier_rollup_stats' exact order statistics."""
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1]: {q}")
    width = (hi - lo) / n_bins
    in_range = F.slice("counts", 2, n_bins)              # drop edge bins
    n_in = F.aggregate(in_range, F.lit(0).cast("long"),
                       lambda a, x: a + x)
    rank = F.ceil(n_in * F.lit(q)).cast("long")
    # running cumulative counts per bin, then the first index reaching
    # the rank — all array algebra, no explode
    cum = F.transform(
        in_range,
        lambda _x, i: F.aggregate(F.slice(in_range, 1, i + 1),
                                  F.lit(0).cast("long"),
                                  lambda a, x: a + x))
    pos = F.array_position(F.transform(cum, lambda c: c >= rank), True)
    cum_before = F.when(pos > 1, F.element_at(cum, (pos - 1).cast("int"))
                        ).otherwise(F.lit(0))
    in_bin = F.element_at(in_range, pos.cast("int"))
    est = (F.lit(lo) + (pos.cast("double") - 1) * F.lit(width)
           + F.lit(width) * (rank - cum_before) / in_bin)
    return (hist_df
            .withColumn("_n_in", n_in)
            .where(F.col("_n_in") > 0)
            .select("url", "bucket_start",
                    F.least(F.greatest(est, F.lit(lo)),
                            F.lit(hi)).alias("q_est"),
                    F.col("_n_in").alias("n_in_range")))


def distinct_tier(series: DataFrame, tier: str = "1 hour",
                  value_col: str = "value", ts_col: str = "warc_ts",
                  lg_k: int = 12) -> DataFrame:
    """Mergeable distinct-count tier (TimescaleDB approx_count_distinct
    rollup / Druid HLL metric): per (url, bucket) a Datasketches HLL
    sketch of the distinct non-NULL values plus its estimate — Spark's
    native hll_sketch_agg, one hash aggregation, JVM-side.

    Unlike approx_count_distinct (which emits only a number), the
    SKETCH column is the tier payload, so ``distinct_cascade`` unions
    coarse tiers from fine ones without rescanning raw — the exact
    property that makes distinct counts a continuous-aggregate family
    member rather than a terminal metric. Datasketches HLL is EXACT
    while a group stays in coupon (list/set) mode — a few hundred
    distinct values at the default lg_k=12, which is what the oracle
    gate relies on at test scale; beyond it the estimate carries the
    library's published ~1.6% relative error (documented contract, the
    histogram-tier trade-off pattern). All-NULL buckets drop out.

    hll_sketch_agg accepts int/bigint/string/binary only, so the
    column is sketched by its canonical STRING form — injective for
    Spark's shortest-roundtrip double rendering, so distinct strings
    == distinct values and the exact-mode gate stays valid.
    """
    win = F.window(ts_col, tier)
    return (_cluster_by(series.where(F.col(value_col).isNotNull()))
            .groupBy("url", win.alias("w"))
            .agg(F.hll_sketch_agg(F.col(value_col).cast("string"),
                                  F.lit(lg_k)).alias("sketch"))
            .select("url", F.col("w.start").alias("bucket_start"),
                    "sketch",
                    F.hll_sketch_estimate("sketch")
                    .alias("n_distinct_est")))


def distinct_cascade(tier_df: DataFrame, tier: str) -> DataFrame:
    """Distinct-count tier N-1 -> tier N by sketch UNION (hll_union_agg)
    — never rescans raw; exact equality with the direct coarse tier
    while groups stay in the sketch's exact mode (gate-pinned), the
    standard mergeable-sketch bound beyond it."""
    win = F.window("bucket_start", tier)
    return (_cluster_by(tier_df)
            .groupBy("url", win.alias("w"))
            .agg(F.hll_union_agg("sketch").alias("sketch"))
            .select("url", F.col("w.start").alias("bucket_start"),
                    "sketch",
                    F.hll_sketch_estimate("sketch")
                    .alias("n_distinct_est")))


def cumulative(tier_df: DataFrame, value_col: str = "value_avg") -> DataFrame:
    """A6: running total per url ordered by bucket — the tscuml analog
    (timeseries.py:152-153) as the canonical cumsum window."""
    from pyspark.sql import Window
    w = (Window.partitionBy("url").orderBy("bucket_start")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return tier_df.withColumn("value_cuml", F.sum(value_col).over(w))


def counter_rate(tier_df: DataFrame, value_col: str = "value_avg",
                 ts_col: str = "bucket_start") -> DataFrame:
    """PromQL-style counter semantics over a tier: per-url delta and
    per-second rate between consecutive buckets, with counter-RESET
    detection (a monotone counter that drops below its previous sample
    restarted; the post-reset delta is the new value itself, exactly
    PromQL ``increase``/``rate``). TimescaleDB ``counter_agg`` /
    Prometheus analog — the web-metric twin of the reference's
    epoch-to-epoch incremental displacement (tsincr).

    Pure window algebra: one shuffle on url, no Python. NULL-valued
    buckets yield NULL delta/rate for themselves AND the next bucket
    (no phantom increase across a gap; PromQL skips staleness markers
    the same way). ``ts_col`` may be a timestamp or an epoch-seconds
    numeric column; duplicate bucket timestamps within a url (dt == 0)
    yield NULL ``rate_per_sec`` rather than a division blow-up, and the
    delta for that row is still emitted.
    """
    from pyspark.sql import Window
    from pyrate_spark.operators.asof import _as_seconds
    w = Window.partitionBy("url").orderBy(ts_col)
    # each lag selected once: a windowed Column reused in the delta/dt
    # arithmetic would be planned once per use
    t = tier_df.select("*", F.lag(value_col).over(w).alias("_prev"),
                       F.lag(ts_col).over(w).alias("_prev_ts"))
    v, prev, prev_ts = F.col(value_col), F.col("_prev"), F.col("_prev_ts")
    delta = (F.when(prev.isNull() | v.isNull(), None)
             .when(v < prev, v)              # reset: counter restarted
             .otherwise(v - prev))
    ts_type = tier_df.schema[ts_col].dataType
    dt = (_as_seconds(F.col(ts_col), ts_type, f"ts_col {ts_col!r}")
          - _as_seconds(prev_ts, ts_type, f"ts_col {ts_col!r}"))
    return (t
            .withColumn("delta", delta)
            .withColumn("rate_per_sec",
                        F.when(dt > 0, F.col("delta") / dt))
            .drop("_prev", "_prev_ts"))


def ewma_tier(tier_df: DataFrame, alpha: float = 0.5,
              value_col: str = "value_avg",
              ts_col: str = "bucket_start") -> DataFrame:
    """Exponentially-weighted moving average per url over a tier:
    y_0 = x_0; y_t = (1-alpha) * y_{t-1} + alpha * x_t (the
    ``adjust=False`` recurrence; NULL buckets are skipped, the state
    carries across them). The smoothing twin of the reference's
    temporal low-pass (aps.py Gaussian filter) for dashboard-style
    web metrics.

    Implemented as an EXACT sequential fold in JVM column algebra —
    ``sort_array`` + ``aggregate`` over the per-url bucket list — not
    a window-sum closed form: the closed form needs pow((1-a), -t)
    renormalisation that overflows for long series, while the fold is
    O(n) per url, numerically the textbook recurrence, and
    bit-reproducible (DuckDB's ``list_reduce`` replays the identical
    operation order, which is how the oracle gates it). Per-url state
    is one list per url — bounded by the tier's retention window, the
    same bound every per-url window op here lives under. Emits one
    row per url per observed bucket with the smoothed value.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    obs = (tier_df.where(F.col(value_col).isNotNull())
           .groupBy("url")
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"),
               F.col(value_col).alias("v")))).alias("_series")))
    a = float(alpha)
    # running fold that APPENDS each smoothed value: acc is a struct
    # (y = current state, out = array of smoothed values so far)
    ew = F.expr(f"""
        aggregate(
            _series,
            struct(CAST(NULL AS DOUBLE) AS y,
                   CAST(array() AS ARRAY<DOUBLE>) AS out),
            (acc, x) -> struct(
                CASE WHEN acc.y IS NULL THEN x.v
                     ELSE acc.y * {1.0 - a!r} + x.v * {a!r} END AS y,
                array_append(acc.out,
                    CASE WHEN acc.y IS NULL THEN x.v
                         ELSE acc.y * {1.0 - a!r} + x.v * {a!r} END)
                    AS out),
            acc -> acc.out)
    """)
    return (obs.withColumn("_ew", ew)
            .select("url",
                    F.expr("inline(arrays_zip(_series, _ew))"))
            .select("url", F.col("_series.t").alias(ts_col),
                    F.col("_series.v").alias(value_col),
                    F.col("_ew").alias("value_ewma")))
