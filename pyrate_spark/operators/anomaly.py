"""Anomaly detection over tier series: trailing z-score and
hour-of-day seasonal baseline residuals.

The reference pipeline's outlier handling is threshold masking
(``maxsig``/``pthr`` gates, pyrate/core/stack.py) — static cuts that
assume a stationary error model. A web-observability engine needs the
dynamic complement: "is THIS bucket abnormal given THIS url's recent
history / seasonal profile".  Both operators here are pure window /
groupBy column algebra — whole-stage codegen, partitioned by url (an
unbounded, shardable key), no Python in the hot path — so the plans
survive a 1000-executor scale-up unchanged: one Exchange on url
(resp. (url, hour-of-day)), then per-partition window evaluation.

Determinism policy (shared with ``ewma_tier``): the trailing-window
statistics are folded over the frame-ordered collected history so the
float arithmetic is bit-reproducible across engines and parallelism
levels; the seasonal profile is a plain groupBy mean, rounded like
every other groupBy-avg gate in the suite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def anomaly_zscore(tier_df: DataFrame, window: int = 24,
                   nsig: float = 3.0, min_obs: int = 6,
                   value_col: str = "value_avg",
                   ts_col: str = "bucket_start") -> DataFrame:
    """Trailing-window z-score anomaly flag per url.

    For each (url, bucket): mean and sample std of the previous
    ``window`` non-null buckets (current row EXCLUDED — the detector
    never conditions on the point it is testing) give
    ``z = (x - mean) / std``; the row is anomalous when at least
    ``min_obs`` history rows exist, the variance is positive, and
    ``|z| > nsig``.  ``zscore`` is emitted whenever the statistics
    exist (>= 2 history rows with positive variance) and is NULL for
    shorter or flat histories; ``min_obs`` gates only ``is_anomaly``,
    so a row can carry a large early-history z-score with
    ``is_anomaly = false``.

    The frame sums (sum, sum-of-squares) are exact left folds over the
    frame-ordered history, so both statistics — and therefore the
    flag — are bit-identical in any engine that folds the same order.
    O(window) per row; ``window`` is a small constant (24/168), not a
    scale axis.

    r8: the folds are expressed as plain windowed ``sum``s rather than
    a per-row ``collect_list`` + ``aggregate`` — Spark's bounded-frame
    window aggregation evaluates the frame rows sequentially in frame
    order, i.e. the IDENTICAL left fold, without materialising a
    window-sized array per output row (measured 1.4x on the ~900k-row
    hourly tier, outputs bit-equal). The fold contract is pinned by
    tests/test_anomaly.py's window-sum-vs-explicit-fold bit-equality
    case, so a Spark version that changed frame evaluation order would
    fail OUR tests, not the driver gate.

    Each frame aggregate (count, sum, sum of squares) is evaluated
    ONCE: the three are selected as named columns, and mean / var /
    std / z / flag are derived from those columns in a second
    projection. A windowed Column reused by name in later arithmetic
    is an expression tree, so every use is planned again as its own
    window function and Catalyst does not merge the copies — the
    inline form planned 131 window functions for these 3 and was the
    costliest product of the batch pass. The arithmetic and its order
    are unchanged, so results are bit-identical to the inline form.
    tests/test_plan_window_once.py guards the plan shape.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_obs < 2:
        raise ValueError(f"min_obs must be >= 2, got {min_obs}")
    w = (Window.partitionBy("url").orderBy(ts_col)
         .rowsBetween(-window, -1))
    x = F.col(value_col)
    t = (tier_df.where(x.isNotNull())
         .select("url", ts_col, x.alias(value_col),
                 F.count(x).over(w).alias("_n"),
                 F.sum(x).over(w).alias("_s"),
                 F.sum(x * x).over(w).alias("_ss")))
    n, s, ss = F.col("_n"), F.col("_s"), F.col("_ss")
    mean = F.when(n > 0, s / n)
    var = F.when(n > 1, (ss - n * mean * mean) / (n - 1))
    std = F.when(var > 0, F.sqrt(var))
    z = F.when(std.isNotNull(), (x - mean) / std)
    flag = F.when(z.isNotNull() & (n >= min_obs)
                  & (F.abs(z) > F.lit(float(nsig))), F.lit(True)) \
            .otherwise(F.lit(False))
    return t.select("url", ts_col, x.alias(value_col),
                    n.cast("int").alias("n_window"), z.alias("zscore"),
                    flag.alias("is_anomaly"))


def seasonal_baseline(tier_df: DataFrame,
                      value_col: str = "value_avg",
                      ts_col: str = "bucket_start") -> DataFrame:
    """Hour-of-day seasonal profile + residual per url.

    ``baseline`` is the url's mean value at the same hour-of-day over
    the whole retained window (current row included — the standard
    seasonal-naive profile); ``residual = value - baseline`` is the
    deseasonalised series an alert threshold should look at, and
    ``n_profile`` says how much history backs the baseline.

    Two hash aggregations on (url, hour-of-day) — ≤ 24 profile cells
    per url, so partitions stay balanced whatever the url skew;
    everything is JVM column algebra.  The profile mean is an exact
    left fold over the bucket-ordered group (ewma policy) rather than
    a plain ``avg`` so it is bit-reproducible across engines and
    parallelism levels; the fold's collected list exists ONCE per
    (url, hod) group in the profile aggregate — never buffered per
    output row — and the per-row side of the join carries only the
    two profile scalars, so peak memory is O(group) per profile cell,
    not O(group²) per url as a full-frame window buffer would be.
    The group is bounded by the retention window, so the O(group)
    fold is a constant, not a scale axis.
    """
    prof = seasonal_profile(tier_df, value_col=value_col,
                            ts_col=ts_col)
    hod = _hour_of_day(tier_df, ts_col)
    t = (tier_df.where(F.col(value_col).isNotNull())
         .withColumn("hod", hod))
    return (t.join(prof, ["url", "hod"])
            .select("url", ts_col, F.col(value_col),
                    F.col("hod"),
                    F.col("baseline"),
                    (F.col(value_col) - F.col("baseline"))
                    .alias("residual"),
                    F.col("n_profile")))


def seasonal_profile(tier_df: DataFrame,
                     value_col: str = "value_avg",
                     ts_col: str = "bucket_start") -> DataFrame:
    """The (url, hod) -> (baseline, n_profile) profile table behind
    ``seasonal_baseline``, exposed on its own so a STREAMING scorer
    can join against it (stream-static join — the profile is the
    fixed reference a one-pass detector must use, exactly like
    ``cusum_changepoint``'s ``target``). The mean is the same exact
    bucket-ordered fold, so a profile computed here is bit-identical
    to the one the batch operator uses."""
    hod = _hour_of_day(tier_df, ts_col)
    t = (tier_df.where(F.col(value_col).isNotNull())
         .withColumn("hod", hod))
    prof = (t.groupBy("url", "hod")
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col(ts_col).alias("t"),
                F.col(value_col).alias("v")))).alias("_prof")))
    n = F.size("_prof")
    s = F.aggregate("_prof", F.lit(0.0), lambda a, x: a + x["v"])
    return prof.select("url", "hod", (s / n).alias("baseline"),
                       n.cast("long").alias("n_profile"))


def cusum_changepoint(tier_df: DataFrame, k: float = 0.5,
                      h: float = 5.0, value_col: str = "value_avg",
                      ts_col: str = "bucket_start",
                      target: tuple | None = None) -> DataFrame:
    """Two-sided CUSUM level-shift detector per url (Page 1954 —
    public textbook form): on the standardised series
    ``z = (x - mean) / sigma``,

        hi_t = max(0, hi_{t-1} + z_t - k)
        lo_t = max(0, lo_{t-1} - z_t - k)

    and a change is flagged while either statistic exceeds ``h``
    (``k``/``h`` in sigma units — the usual 0.5 / 4-5).  The z-score
    operator above asks "is this point far from RECENT history"; CUSUM
    asks the complementary question "has the LEVEL drifted", which
    single-point thresholds structurally miss for slow shifts.

    Implementation is the ``ewma_tier`` exact-fold pattern: one
    sorted per-url series list (bounded by the tier retention window),
    mean/sigma as exact left folds over it, then one O(n) running
    fold that appends each (hi, lo) state — all JVM column algebra,
    one shuffle on url, bit-reproducible across engines and
    parallelism.  Urls whose sigma is undefined (n < 2 or flat)
    emit NULL statistics and ``is_change = false``.

    ``target=(mean, sigma)`` pins the standardisation to a known
    reference instead of estimating it from the series — the form a
    STREAMING detector must use (one pass, no lookahead), and what
    ``streaming/corrections.streaming_cusum`` is gated against.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if h <= 0:
        raise ValueError(f"h must be > 0, got {h}")
    if target is not None and not float(target[1]) > 0:
        raise ValueError(f"target sigma must be > 0, got {target[1]}")
    obs = (tier_df.where(F.col(value_col).isNotNull())
           .groupBy("url")
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"),
               F.col(value_col).alias("v")))).alias("_series")))
    if target is not None:
        obs = (obs.withColumn("_mean", F.lit(float(target[0])))
                  .withColumn("_sigma", F.lit(float(target[1]))))
    else:
        n = F.size("_series")
        s = F.aggregate("_series", F.lit(0.0), lambda a, x: a + x["v"])
        ss = F.aggregate("_series", F.lit(0.0),
                         lambda a, x: a + x["v"] * x["v"])
        mean = s / n
        var = F.when(n > 1, (ss - n * mean * mean) / (n - 1))
        sigma = F.when(var > 0, F.sqrt(var))
        obs = (obs.withColumn("_mean", mean)
                  .withColumn("_sigma", sigma))
    # z folds as 0.0 for sigma-less urls so the fold stays total; the
    # outputs for those urls are nulled in the final select
    kk, hh = repr(float(k)), repr(float(h))
    step_hi = (f"greatest(CAST(0.0 AS DOUBLE), acc.hi + (CASE WHEN "
               f"_sigma IS NULL THEN CAST(0.0 AS DOUBLE) ELSE "
               f"(x.v - _mean) / _sigma END) - {kk}D)")
    step_lo = (f"greatest(CAST(0.0 AS DOUBLE), acc.lo - (CASE WHEN "
               f"_sigma IS NULL THEN CAST(0.0 AS DOUBLE) ELSE "
               f"(x.v - _mean) / _sigma END) - {kk}D)")
    cu = F.expr(f"""
        aggregate(
            _series,
            struct(CAST(0.0 AS DOUBLE) AS hi, CAST(0.0 AS DOUBLE) AS lo,
                   CAST(array() AS ARRAY<STRUCT<hi: DOUBLE, lo: DOUBLE>>)
                       AS out),
            (acc, x) -> struct(
                {step_hi} AS hi,
                {step_lo} AS lo,
                array_append(acc.out,
                    struct({step_hi} AS hi, {step_lo} AS lo)) AS out),
            acc -> acc.out)
    """)
    ok = F.col("_sigma").isNotNull()
    return (obs.withColumn("_cu", cu)
            .select("url", "_sigma",
                    F.expr("inline(arrays_zip(_series, _cu))"))
            .select("url", F.col("_series.t").alias(ts_col),
                    F.col("_series.v").alias(value_col),
                    F.when(ok, F.col("_cu.hi")).alias("cusum_hi"),
                    F.when(ok, F.col("_cu.lo")).alias("cusum_lo"),
                    F.when(ok & ((F.col("_cu.hi") > F.lit(float(h)))
                                 | (F.col("_cu.lo") > F.lit(float(h)))),
                           F.lit(True)).otherwise(F.lit(False))
                    .alias("is_change")))


def holt_forecast(tier_df: DataFrame, alpha: float = 0.5,
                  beta: float = 0.3, value_col: str = "value_avg",
                  ts_col: str = "bucket_start") -> DataFrame:
    """Holt linear-trend exponential smoothing per url (public
    textbook form; Holt 1957):

        f_t = l_{t-1} + b_{t-1}            (one-step-ahead forecast)
        l_t = alpha * x_t + (1-alpha) * (l_{t-1} + b_{t-1})
        b_t = beta * (l_t - l_{t-1}) + (1-beta) * b_{t-1}

    initialised ``l_0 = x_0, b_0 = 0`` (f_0 undefined → NULL).  The
    trend-aware upgrade of ``ewma_tier``: EWMA lags a trending series
    by design; Holt tracks it, and the emitted per-row forecast error
    ``x_t - f_t`` is the standard residual an alerting rule consumes
    (forecast-based anomaly detection — the third member of the
    family after the z-score and CUSUM).

    Same execution shape as the other exact folds: one shuffle on
    url, one O(n) running struct fold in JVM column algebra, state
    bounded by the tier retention window, bit-reproducible operation
    order.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not (0.0 <= beta <= 1.0):
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    obs = (tier_df.where(F.col(value_col).isNotNull())
           .groupBy("url")
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"),
               F.col(value_col).alias("v")))).alias("_series")))
    a, bb = repr(float(alpha)), repr(float(beta))
    # each struct field re-derives from acc (the PREVIOUS state), so
    # the textual duplication below is the same-binding pattern the
    # ewma/CUSUM folds use; grouping is pinned to match the oracle
    f_new = "(acc.l + acc.b)"
    l_new = f"({a}D * x.v + {1.0 - float(alpha)!r}D * (acc.l + acc.b))"
    b_new = (f"({bb}D * ({l_new} - acc.l) "
             f"+ {1.0 - float(beta)!r}D * acc.b)")
    ho = F.expr(f"""
        aggregate(
            _series,
            struct(CAST(NULL AS DOUBLE) AS l, CAST(NULL AS DOUBLE) AS b,
                   CAST(array() AS
                        ARRAY<STRUCT<l: DOUBLE, b: DOUBLE, f: DOUBLE>>)
                       AS out),
            (acc, x) -> struct(
                CASE WHEN acc.l IS NULL THEN x.v ELSE {l_new} END AS l,
                CASE WHEN acc.l IS NULL THEN CAST(0.0 AS DOUBLE)
                     ELSE {b_new} END AS b,
                array_append(acc.out, struct(
                    CASE WHEN acc.l IS NULL THEN x.v
                         ELSE {l_new} END AS l,
                    CASE WHEN acc.l IS NULL THEN CAST(0.0 AS DOUBLE)
                         ELSE {b_new} END AS b,
                    CASE WHEN acc.l IS NULL THEN CAST(NULL AS DOUBLE)
                         ELSE {f_new} END AS f)) AS out),
            acc -> acc.out)
    """)
    return (obs.withColumn("_ho", ho)
            .select("url", F.expr("inline(arrays_zip(_series, _ho))"))
            .select("url", F.col("_series.t").alias(ts_col),
                    F.col("_series.v").alias(value_col),
                    F.col("_ho.l").alias("level"),
                    F.col("_ho.b").alias("trend"),
                    F.col("_ho.f").alias("forecast"),
                    (F.col("_series.v") - F.col("_ho.f"))
                    .alias("forecast_error")))


def slo_burn_rate(tier_df: DataFrame, threshold: float,
                  short_window: int = 6, long_window: int = 24,
                  burn_threshold: float = 0.5,
                  value_col: str = "value_avg",
                  ts_col: str = "bucket_start") -> DataFrame:
    """Multi-window SLO burn rate (the Google SRE-workbook alerting
    shape — public): a bucket VIOLATES when its value exceeds
    ``threshold``; the short/long burn rates are the violation
    fractions over the trailing ``short_window`` / ``long_window``
    buckets (current included), and ``is_burning`` requires BOTH to
    exceed ``burn_threshold`` — the standard construction that makes
    alerts both fast (short window reacts) and spike-proof (long
    window must agree).

    Everything is integer window counts divided once at the end, so
    the rates are exact dyadic ratios — bit-deterministic across
    engines with no fold machinery.  Same scale shape as the z-score:
    one Exchange on url, constant-size frames, whole-stage codegen.
    """
    if short_window < 1 or long_window < short_window:
        raise ValueError(
            f"need 1 <= short_window <= long_window, got "
            f"{short_window}/{long_window}")
    t = tier_df.where(F.col(value_col).isNotNull())
    ind = (F.col(value_col) > F.lit(float(threshold))).cast("long")
    t = t.withColumn("violation", ind)
    base = Window.partitionBy("url").orderBy(ts_col)
    ws = base.rowsBetween(-(short_window - 1), 0)
    wl = base.rowsBetween(-(long_window - 1), 0)
    # each rate selected once, then gated by name: reusing the
    # windowed Columns in is_burning would plan every window twice
    t = t.select("url", ts_col, F.col(value_col), "violation",
                 (F.sum("violation").over(ws).cast("double")
                  / F.count(F.lit(1)).over(ws)).alias("short_rate"),
                 (F.sum("violation").over(wl).cast("double")
                  / F.count(F.lit(1)).over(wl)).alias("long_rate"))
    bt = F.lit(float(burn_threshold))
    return (t.select("url", ts_col, F.col(value_col),
                     F.col("violation").cast("boolean")
                     .alias("violation"),
                     "short_rate", "long_rate",
                     ((F.col("short_rate") > bt) & (F.col("long_rate") > bt))
                     .alias("is_burning")))


def _hour_of_day(df: DataFrame, ts_col: str) -> Column:
    """Hour-of-day 0-23 from either a timestamp column or an
    epoch-seconds bucket column (both tier layouts appear in the
    suite); resolved from the schema, not the values."""
    dtype = dict(df.dtypes).get(ts_col, "")
    if dtype.startswith("timestamp"):
        return F.hour(F.col(ts_col))
    return (F.pmod(F.col(ts_col).cast("long"), F.lit(86400)) / 3600) \
        .cast("int")
