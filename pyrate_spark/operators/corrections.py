"""Correction stages — the graft of the reference's `correct` step
operators onto per-url web series. Each is a DataFrame -> DataFrame
transformation on the series (url, warc_ts, value, ...), idempotent
by construction, gated and ordered by the pipeline registry
(pyrate_spark.plans.pipeline; reference registry correct.py:197-205).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pyrate_spark.config import EngineConfig, DEFAULT
from pyrate_spark.kernels.epochs import SECONDS_PER_YEAR


EPSILON = 1e-20   # ref_phs_est.py:169-184 — keeps exact-0 values from
                  # being re-read as nodata downstream


def ref_phase_subtract(series: DataFrame, cfg: EngineConfig = DEFAULT,
                       ref_urls: DataFrame | None = None,
                       bucket: str = "1 day",
                       min_valid: int = 1) -> DataFrame:
    """A3/A4 analog (ref_phs_est.py:98-166): subtract, per crawl batch
    (time bucket), the median value over a reference cohort of urls
    (default: all urls — the reference's method 1 uses all valid
    pixels). ``min_valid`` is method 2's half-patch validity gate
    (ref_phs_est.py:35-95: a reference window with too few valid
    samples contributes no correction): buckets below it get no median
    shift, but the -1e-20 epsilon is still applied to EVERY row —
    exactly as the reference subtracts ``ref_ph + 1e-20``
    unconditionally (ref_phs_est.py:180), including where the
    correction is zero. One aggregation + one broadcast join — no
    per-key work."""
    src = series
    if ref_urls is not None:
        cohort = series.join(F.broadcast(ref_urls), "url", "left_semi")
    else:
        cohort = series
    med = (cohort
           .groupBy(F.window("warc_ts", bucket).alias("w"))
           .agg(F.when(F.count("value") >= min_valid,
                       F.median("value")).alias("_ref_med"))
           .select(F.col("w.start").alias("_wstart"), "_ref_med"))
    win = F.window("warc_ts", bucket)
    return (src.withColumn("_wstart", win["start"])
            .join(F.broadcast(med), "_wstart", "left")
            .withColumn("value",
                        # net shift is NEGATIVE epsilon: the reference does
                        # phase_data -= ref_ph + 1e-20 (ref_phs_est.py:180)
                        F.col("value") - F.coalesce("_ref_med", F.lit(0.0))
                        - F.lit(EPSILON))
            .drop("_wstart", "_ref_med"))


def orbital_detrend(series: DataFrame, cfg: EngineConfig = DEFAULT,
                    degree: int = 1) -> DataFrame:
    """T15 analog (orbital.py:205-300): remove a systematic per-key
    trend — the reference fits a polynomial surface per observation
    layer and subtracts the forward model; per key the same shape is a
    polynomial in time fitted by least squares and subtracted, leaving
    the residual signal. degree 0 = offset (the reference's
    `offset` re-levelling, orbital.py:284-291), degree 1 = linear ramp.

    Pure column algebra: closed-form OLS via per-key moment aggregates
    (one shuffle), no UDF. Each moment is selected once as a named
    column and the fit is derived from the columns — reusing a
    windowed Column in the fit arithmetic would plan one window
    function per use (15 for these 5).
    """
    w = Window.partitionBy("url")
    t = ((F.unix_timestamp("warc_ts")
          - F.unix_timestamp(F.min("warc_ts").over(w))).cast("double")
         / F.lit(SECONDS_PER_YEAR))
    df = series.withColumn("_t", t)
    if degree == 0:
        med = F.expr("median(value)").over(w)
        return (df.withColumn("value", F.col("value") - med)
                .drop("_t"))
    has = F.col("value").isNotNull()
    moments = {
        "_tm": F.avg(F.when(has, F.col("_t"))),
        "_ym": F.avg("value"),
        "_sxy": F.avg(F.when(has, F.col("_t") * F.col("value"))),
        "_sxx": F.avg(F.when(has, F.col("_t") * F.col("_t"))),
    }
    df = df.select("*", *[m.over(w).alias(k) for k, m in moments.items()])
    tm, ym, sxy, sxx = (F.col(k) for k in moments)
    slope = (sxy - tm * ym) / (sxx - tm * tm)
    icept = ym - slope * tm
    return (df.withColumn(
        "value",
        F.col("value") - (icept + slope * F.col("_t")))
        .drop("_t", *moments))


def aps_temporal_filter(series: DataFrame,
                        cfg: EngineConfig = DEFAULT) -> DataFrame:
    """T11/T13 analog (aps.py:322-397): replace value by its temporal
    high-pass component (subtract the Gaussian low-pass), per url."""
    from pyrate_spark.operators.grouped import temporal_highpass_per_url
    # the grouped kernel emits epoch_ts truncated to whole seconds
    # (ts_seconds/datetime64[s]) — join on a unix-seconds key on BOTH
    # sides so sub-second warc_ts still matches, and coalesce so a row
    # that fails to match keeps its original value instead of nulling
    hp = (temporal_highpass_per_url(series, cfg)
          .select("url", F.unix_timestamp("epoch_ts").alias("_ts_s"),
                  F.col("value_hp").alias("_hp"))
          # duplicate (url, second) inputs each emit a kernel row; the
          # join key can't tell them apart, so average — never fan out
          .groupBy("url", "_ts_s").agg(F.avg("_hp").alias("_hp")))
    return (series
            .withColumn("_ts_s", F.unix_timestamp(
                F.date_trunc("second", "warc_ts")))
            .join(hp, ["url", "_ts_s"], "left")
            .withColumn("value", F.coalesce("_hp", "value"))
            .drop("_hp", "_ts_s"))


def maxvar_column(series: DataFrame,
                  cfg: EngineConfig = DEFAULT) -> DataFrame:
    """A11-lite (covariance.py:312-343 wrapper): per-url variance
    estimate attached as a column — the graft's maxvar, consumed by the
    VCM build inside the inversion kernels."""
    v = series.groupBy("url").agg(
        F.var_samp("value").alias("maxvar"))
    return series.join(v, "url", "left")


def maxvar_full(series: DataFrame, cfg: EngineConfig = DEFAULT,
                bucket_seconds: int = 86400,
                calc_alpha: bool = True) -> DataFrame:
    """A11 full (covariance.py:65-196): per-url maxvar + exponential
    decay alpha from the FFT autocovariance of the bucketed regular
    time grid (the 1D graft of the reference's radial autocovariance;
    see kernels/covariance.py for the step-by-step mapping). Returns
    one row per url: (url, maxvar, alpha, n_grid, nzc). Join the maxvar
    column onto a pairs frame and set vcm_mode='maxvar' to weight the
    stack/time-series inversions with it (covariance.py:312-343)."""
    import pandas as pd
    import numpy as np
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.kernels.covariance import (cvd_from_series,
                                                 series_to_grid)
    dt_days = bucket_seconds / 86400.0
    schema = ("url string, maxvar double, alpha double, "
              "n_grid int, nzc int")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from pyrate_spark.operators.udf_kernels import (group_slices,
                                                        ts_seconds)
        ts_all = ts_seconds(pdf["warc_ts"])
        v_all = pdf["value"].to_numpy(dtype=np.float64)
        rows = []
        for url, idx in group_slices(pdf):
            grid, _ = series_to_grid(ts_all[idx], v_all[idx],
                                     bucket_seconds)
            nzc = int(np.count_nonzero(np.where(np.isnan(grid), 0.0,
                                                grid)))
            mv, alpha = cvd_from_series(grid, dt=dt_days,
                                        calc_alpha=calc_alpha)
            rows.append((url, mv, alpha if alpha is not None else np.nan,
                         len(grid), nzc))
        return pd.DataFrame(rows, columns=["url", "maxvar", "alpha",
                                           "n_grid", "nzc"])

    return keyed_apply(series, "url", fn, schema, detect_hot=False)


def orbital_network(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                    use_mst: bool = True) -> DataFrame:
    """T16 (orbital.py:303-428): joint per-epoch nuisance inversion
    across the key's whole observation network — fit on the MST subset
    (or all valid pairs), subtract the forward model from every pair.
    Emits the pairs with `delta_corrected` plus the fitted per-epoch
    offsets on both ends (o_first/o_second). Kernel semantics:
    operators/udf_kernels.make_orbnet_fn."""
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.operators.udf_kernels import make_orbnet_fn
    schema = ("url string, ts_first timestamp, ts_second timestamp, "
              "delta_corrected double, o_first double, o_second double")
    return keyed_apply(pairs, "url", make_orbnet_fn(use_mst), schema,
                       detect_hot=False)


def closure_mask(pairs: DataFrame,
                 cfg: EngineConfig = DEFAULT) -> DataFrame:
    """G3-G6 + A8 + P5: enumerate closed loops per key, sum signed
    deltas around each loop, count breaches per observation, and NULL
    the delta of observations whose breach count equals their loop
    participation count (closure_check.py:32-53) — the graft of
    closure-based outlier masking.

    Grouped-map kernel (loops are per-key graph work); emits the pairs
    frame with `delta_value` masked and breach bookkeeping columns.
    """
    import pandas as pd
    import numpy as np
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.kernels.closure import (closed_loops,
                                              discard_loops_containing_max_ifg_count,
                                              sum_closure)
    max_len = cfg.max_loop_length
    max_red = cfg.max_loop_redundancy
    thr = cfg.closure_thr

    schema = ("url string, ts_first timestamp, ts_second timestamp, "
              "delta_value double, time_span double, nan_fraction double, "
              "n_loops int, n_breach int")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from pyrate_spark.operators.udf_kernels import (group_slices,
                                                        ts_seconds)
        first_all = ts_seconds(pdf["ts_first"])
        second_all = ts_seconds(pdf["ts_second"])
        vals = pdf["delta_value"].to_numpy(dtype=np.float64)
        n_loops = np.zeros(len(pdf), dtype=np.int32)
        n_breach = np.zeros(len(pdf), dtype=np.int32)
        masked = vals.copy()
        for url, idx in group_slices(pdf):
            sub = np.lexsort((second_all[idx], first_all[idx]))
            idx = idx[sub]
            fs = first_all[idx].tolist()
            ss = second_all[idx].tolist()
            loops = closed_loops(fs, ss, max_loop_length=max_len)
            loops = discard_loops_containing_max_ifg_count(loops, max_red)
            if not loops:
                continue
            pair_pos = {}
            for j, (a, b) in enumerate(zip(fs, ss)):
                pair_pos.setdefault((a, b), j)
            values = {(a, b): vals[idx[pair_pos[(a, b)]]]
                      for (a, b) in pair_pos}
            for loop in loops:
                closure, breach = sum_closure(loop, values,
                                              subtract_median=False,
                                              thr=thr)
                for e in loop.edges:
                    j = idx[pair_pos[(e.first, e.second)]]
                    n_loops[j] += 1
                    if breach:
                        n_breach[j] += 1
            # P5: mask obs breaching in EVERY loop they participate in
            for (a, b), p in pair_pos.items():
                j = idx[p]
                if n_loops[j] > 0 and n_breach[j] == n_loops[j]:
                    masked[j] = np.nan
        out = pdf[["url", "ts_first", "ts_second", "time_span",
                   "nan_fraction"]].copy()
        out["delta_value"] = masked
        out["n_loops"] = n_loops
        out["n_breach"] = n_breach
        return out[["url", "ts_first", "ts_second", "delta_value",
                    "time_span", "nan_fraction", "n_loops", "n_breach"]]

    return keyed_apply(pairs, "url", fn, schema, detect_hot=False)


def closure_fixpoint(pairs: DataFrame,
                     cfg: EngineConfig = DEFAULT) -> DataFrame:
    """G6: iterate the closure check until the per-key observation list
    is stable (closure_check.py:56-144 iterative_closure_check). Each
    iteration over the CURRENT edge set: enumerate signed loops up to
    max_loop_length, apply the greedy redundancy discard
    (closure_check.py:147-166), drop edges in no retained loop
    (closure_check.py:223-234 — the reference's list subset; the
    relational form is a left_semi, here resolved inside the per-key
    kernel), count breaches, then drop edges breaching the two-gate
    rule (closure_check.py:96-115: n_loops > min_loops_per_ifg AND
    breach fraction > ifg_drop_thr — per key the 'grid' is one pixel,
    so the fraction is 1.0 iff n_breach == n_loops). Converges when an
    iteration drops nothing; if no retained loop exists the key aborts
    with its current list intact (closure_check.py:189-199 None
    semantics).

    The whole fixpoint is per-key-local graph work, so it runs to
    convergence INSIDE one grouped-map pass — no driver-side loop, no
    per-iteration shuffle.

    Emits surviving pairs with final (n_loops, n_breach) and the
    iteration count at convergence."""
    import pandas as pd
    import numpy as np
    from collections import defaultdict
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.kernels.closure import (
        closed_loops, discard_loops_containing_max_ifg_count, sum_closure)
    max_len = cfg.max_loop_length
    max_red = cfg.max_loop_redundancy
    thr = cfg.closure_thr
    min_loops = cfg.min_loops_per_ifg
    drop_thr = cfg.ifg_drop_thr

    schema = ("url string, ts_first timestamp, ts_second timestamp, "
              "delta_value double, n_loops int, n_breach int, n_iter int")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from pyrate_spark.operators.udf_kernels import (group_slices,
                                                        ts_seconds)
        first_all = ts_seconds(pdf["ts_first"])
        second_all = ts_seconds(pdf["ts_second"])
        vals = pdf["delta_value"].to_numpy(dtype=np.float64)
        keep_mask = np.zeros(len(pdf), dtype=bool)
        out_loops = np.zeros(len(pdf), dtype=np.int32)
        out_breach = np.zeros(len(pdf), dtype=np.int32)
        out_iter = np.zeros(len(pdf), dtype=np.int32)
        for url, idx in group_slices(pdf):
            sub = np.lexsort((second_all[idx], first_all[idx]))
            idx = idx[sub]
            keep = list(idx)
            nl: dict = {}
            nb: dict = {}
            n_iter = 0
            while True:
                n_iter += 1
                fs = [int(first_all[j]) for j in keep]
                ss = [int(second_all[j]) for j in keep]
                loops = closed_loops(fs, ss, max_loop_length=max_len)
                loops = discard_loops_containing_max_ifg_count(loops,
                                                               max_red)
                if not loops:
                    nl, nb = {}, {}
                    break
                values = {}
                for j in keep:
                    values.setdefault(
                        (int(first_all[j]), int(second_all[j])), vals[j])
                nl, nb = defaultdict(int), defaultdict(int)
                for loop in loops:
                    _, breach = sum_closure(loop, values,
                                            subtract_median=False, thr=thr)
                    for e in loop.edges:
                        nl[(e.first, e.second)] += 1
                        if breach:
                            nb[(e.first, e.second)] += 1
                new_keep = []
                for j in keep:
                    k = (int(first_all[j]), int(second_all[j]))
                    n = nl.get(k, 0)
                    if n < 1:
                        continue                 # in no retained loop
                    frac = 1.0 if nb.get(k, 0) == n else 0.0
                    if n > min_loops and frac > drop_thr:
                        continue                 # two-gate drop
                    new_keep.append(j)
                if len(new_keep) == len(keep):
                    break
                keep = new_keep
            for j in keep:
                k = (int(first_all[j]), int(second_all[j]))
                keep_mask[j] = True
                out_loops[j] = nl.get(k, 0)
                out_breach[j] = nb.get(k, 0)
                out_iter[j] = n_iter
        out = pdf[["url", "ts_first", "ts_second", "delta_value"]].copy()
        out["n_loops"] = out_loops
        out["n_breach"] = out_breach
        out["n_iter"] = out_iter
        return out[keep_mask]

    return keyed_apply(pairs, "url", fn, schema, detect_hot=False)


def aux_tile_average(series: DataFrame, aux_col: str = "aux",
                     bucket: str = "1 day") -> DataFrame:
    """A10 (dem_error.py:120-168: per-tile bperp averages feeding the
    DEM-error design matrix): per-(key, time-tile) mean of the
    auxiliary covariate, attached back to every row of the tile. One
    aggregation + one join co-partitioned on the same keys — the
    aggregate side is tiny relative to the rows, so AQE broadcasts it
    at scale."""
    win = F.window("warc_ts", bucket)
    src = series.withColumn("_tile", win["start"])
    avg = (src.groupBy("url", "_tile")
           .agg(F.avg(aux_col).alias("aux_tile_avg"),
                F.count(aux_col).alias("aux_tile_n")))
    return (src.join(avg, ["url", "_tile"], "left")
            .withColumn("tile_start", F.col("_tile")).drop("_tile"))


def quality_mask(series: DataFrame, quality_col: str, thr: float,
                 value_col: str = "value") -> DataFrame:
    """P3 coherence-mask analog (gdal_python.py:36-61): NULL the value
    where the per-row quality covariate is below threshold —
    ``where(coh >= thr, src, NaN)`` as a single column expression."""
    return series.withColumn(
        value_col,
        F.when(F.col(quality_col) >= F.lit(thr), F.col(value_col))
         .otherwise(F.lit(None)))


def cohort_lowpass(series: DataFrame, cfg: EngineConfig = DEFAULT,
                   bucket: str = "1 day",
                   cohort_expr=None) -> DataFrame:
    """T12 recast (aps.py:196-318): the reference's spatial Gaussian
    low-pass smooths ACROSS pixels per epoch; the web graft's spatial
    axis is the url cohort (same host), so the low-pass component is
    the per-(host, time-bucket) mean and the returned value is the
    high-pass residual — removing shared per-host atmosphere-like
    systematics. Documented deviation: a Gaussian over a host metric
    space degenerates to the cohort mean when cohort members are
    exchangeable (SURVEY.md §7 watch-item e).

    One aggregation + one broadcast-able join; no UDF."""
    if cohort_expr is None:
        cohort_expr = F.regexp_extract("url", r"https?://([^/]+)/", 1)
    win = F.window("warc_ts", bucket)
    src = series.withColumn("_cohort", cohort_expr) \
                .withColumn("_wstart", win["start"])
    lp = (src.groupBy("_cohort", "_wstart")
          .agg(F.avg("value").alias("_lp")))
    return (src.join(lp, ["_cohort", "_wstart"], "left")
            .withColumn("value_hp", F.col("value") - F.col("_lp"))
            .withColumn("value_lp", F.col("_lp"))
            .drop("_cohort", "_wstart", "_lp"))


def cohort_lowpass_fft(series: DataFrame, cfg: EngineConfig = DEFAULT,
                       bucket_seconds: int = 86400,
                       cutoff_days: float = 5.0,
                       cohort_expr=None, nanfill: bool = True) -> DataFrame:
    """T12 true spectral path (aps.py:196-318): the reference low-pass
    filters each epoch's 2-D image in the Fourier domain with a
    Gaussian kernel parameterised by a cutoff distance; the graft runs
    the same kernel 1-D over each cohort's regular TIME grid (cohort =
    host by default, the web analog of spatially-adjacent pixels).
    Pipeline per cohort: bucket-mean grid (empty buckets NaN) →
    nearest-neighbour NaN fill (aps.py:232-244) → FFT → Gaussian
    weights sigma = std(dist)/cutoff (aps.py:298-311) → inverse FFT
    real part → NaNs re-inserted (aps.py:315-317). The per-bucket
    low-pass joins back onto rows: value_lp, value_hp = value - lp.

    Replaces the cohort-mean degenerate recast (``cohort_lowpass``)
    with an actual cutoff-parameterised filter. Scale: the cohort grid
    length is bounded by calendar span / bucket, not row count; the
    aggregate side is tiny versus the row side so AQE broadcasts the
    join back; one grouped-map over cohorts whose per-group state is
    one small numpy array."""
    import numpy as np
    import pandas as pd
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.kernels.covariance import (gaussian_lowpass_grid,
                                                 series_to_grid)
    if cohort_expr is None:
        cohort_expr = F.regexp_extract("url", r"https?://([^/]+)/", 1)
    dt_days = bucket_seconds / 86400.0
    src = (series
           .withColumn("_cohort", cohort_expr)
           .withColumn("_b", (F.floor(
               F.unix_timestamp(F.date_trunc("second", "warc_ts"))
               / F.lit(bucket_seconds)) * bucket_seconds).cast("long")))
    # one grid point per (cohort, bucket); buckets whose values are all
    # NULL still appear (avg -> NULL) so the grid extent matches the
    # observed bucket range exactly
    g = src.groupBy("_cohort", "_b").agg(F.avg("value").alias("_gv"))
    schema = "_cohort string, _b long, value_lp double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from pyrate_spark.operators.udf_kernels import group_slices
        b_all = pdf["_b"].to_numpy(dtype=np.int64)
        v_all = pdf["_gv"].to_numpy(dtype=np.float64)
        cohorts, buckets, lps = [], [], []
        for ch, idx in group_slices(pdf, key="_cohort"):
            grid, t0 = series_to_grid(b_all[idx], v_all[idx],
                                      bucket_seconds)
            lp = gaussian_lowpass_grid(grid, dt=dt_days,
                                       cutoff=cutoff_days,
                                       nanfill=nanfill)
            keep = np.flatnonzero(~np.isnan(lp))
            cohorts.append(np.full(keep.size, ch, dtype=object))
            buckets.append(t0 + keep.astype(np.int64) * bucket_seconds)
            lps.append(lp[keep])
        if not cohorts:
            return pd.DataFrame({"_cohort": pd.Series(dtype=object),
                                 "_b": pd.Series(dtype=np.int64),
                                 "value_lp": pd.Series(dtype=np.float64)})
        return pd.DataFrame({"_cohort": np.concatenate(cohorts),
                             "_b": np.concatenate(buckets),
                             "value_lp": np.concatenate(lps)})

    lp = keyed_apply(g, "_cohort", fn, schema, detect_hot=False)
    return (src.join(lp, ["_cohort", "_b"], "left")
            .withColumn("value_hp", F.col("value") - F.col("value_lp"))
            .drop("_cohort", "_b"))


def closure_loop_counts(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                        loop_length: int = 3) -> DataFrame:
    """G3 head-count: number of deduped simple cycles of exactly
    ``loop_length`` per key (collect_loops.py:59-121 + dedupe). For
    loop_length=3 this equals the triangle count of the epoch graph —
    SQL-verifiable by a 3-way self-join."""
    import pandas as pd
    import numpy as np
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.kernels.closure import dedupe_loops, find_loops

    schema = "url string, n_loops long"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from pyrate_spark.operators.udf_kernels import (group_slices,
                                                        ts_seconds)
        first_all = ts_seconds(pdf["ts_first"])
        second_all = ts_seconds(pdf["ts_second"])
        rows = []
        for url, idx in group_slices(pdf):
            fs, ss = first_all[idx], second_all[idx]
            nodes = np.unique(np.concatenate([fs, ss]))
            nid = {int(v): i for i, v in enumerate(nodes.tolist())}
            g = np.zeros((len(nodes), len(nodes)), dtype=np.int8)
            for a, b in zip(fs.tolist(), ss.tolist()):
                g[nid[a], nid[b]] = 1
                g[nid[b], nid[a]] = 1
            if len(nodes) < loop_length:
                rows.append((url, 0))
                continue
            _, loops = find_loops(g, loop_length)
            rows.append((url, len(dedupe_loops(loops))))
        return pd.DataFrame(rows, columns=["url", "n_loops"])

    return keyed_apply(pairs, "url", fn, schema, detect_hot=False)


def closure_sums(pairs: DataFrame,
                 cfg: EngineConfig = DEFAULT) -> DataFrame:
    """A8 as a first-class table: one row per (key, loop) with the
    signed closure sum — the quantity plot_closure.py:28-80 renders
    (closure[:, :, loop] per pixel; here per url). Loop enumeration,
    signing and redundancy discard are the closure_mask kernels
    unchanged (mst_closure.py:85-179, sum_closure.py:158-189,
    closure_check.py:147-166).

    ``loop_key`` is the loop's sorted epoch set as '|'-joined unix
    seconds — the dedupe identity of the cycle (collect_loops.py:76-121
    keeps one loop per node-set), stable across keys so panels can be
    compared url-to-url. For max_loop_length=3 the traversal is
    deterministic a->b->c->a (ascending node index), so the closure of
    a triangle a<b<c is exactly d(a,b) + d(b,c) - d(a,c) and the whole
    table is verifiable by a 3-way SQL self-join (driver oracle
    `closure_sums_tri`).

    IEEE summation order is part of that replay contract (r8): the
    closure is folded as (sum of +edges in sorted-edge order) - (sum of
    -edges) — for a triangle exactly ``(d(a,b) + d(b,c)) - d(a,c)``,
    the oracle's ``p1.dv + p2.dv - p3.dv`` association — so the double
    is bit-identical to the SQL's, not merely within an ulp (the
    sorted-edge signed fold ``(ab - ac) + bc`` can differ in the last
    ulp and flip both a 5-dp rounding boundary and the SIGN of a tiny
    residual, which the signed-zero-preserving gate round exposes)."""
    import pandas as pd
    import numpy as np
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.kernels.closure import (closed_loops,
                                              discard_loops_containing_max_ifg_count)
    max_len = cfg.max_loop_length
    max_red = cfg.max_loop_redundancy

    schema = ("url string, loop_key string, n_edges int, "
              "loop_weight double, closure double")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from pyrate_spark.operators.udf_kernels import (group_slices,
                                                        ts_seconds)
        first_all = ts_seconds(pdf["ts_first"])
        second_all = ts_seconds(pdf["ts_second"])
        vals = pdf["delta_value"].to_numpy(dtype=np.float64)
        rows = []
        for url, idx in group_slices(pdf):
            sub = np.lexsort((second_all[idx], first_all[idx]))
            idx = idx[sub]
            fs = first_all[idx].tolist()
            ss = second_all[idx].tolist()
            loops = closed_loops(fs, ss, max_loop_length=max_len)
            loops = discard_loops_containing_max_ifg_count(loops, max_red)
            if not loops:
                continue
            pair_pos = {}
            for j, (a, b) in enumerate(zip(fs, ss)):
                pair_pos.setdefault((a, b), j)
            for loop in loops:
                pos = 0.0
                neg = 0.0
                for e in loop.edges:
                    v = float(vals[idx[pair_pos[(e.first, e.second)]]])
                    if e.sign >= 0:
                        pos += v
                    else:
                        neg += v
                closure = pos - neg
                nodes = sorted({e.first for e in loop.edges}
                               | {e.second for e in loop.edges})
                key = "|".join(str(int(n)) for n in nodes)
                rows.append((url, key, len(loop.edges),
                             float(loop.weight), float(closure)))
        return pd.DataFrame(rows, columns=["url", "loop_key", "n_edges",
                                           "loop_weight", "closure"])

    return keyed_apply(pairs, "url", fn, schema, detect_hot=False)


def dem_error_analog(series: DataFrame, cfg: EngineConfig = DEFAULT,
                     aux_col: str = "aux") -> DataFrame:
    """T14 analog (dem_error.py:169-256): per key, co-estimate a
    nuisance regressor alongside the trend — A = [1, t, aux], solve by
    least squares, report the aux coefficient and emit the corrected
    value (value - coef*aux). In the web graft the natural nuisance is
    a per-snapshot covariate such as page size. Gate: de_pthr >= 4
    valid obs (dem_error.py:200)."""
    import pandas as pd
    import numpy as np
    from pyrate_spark.operators.grouped import keyed_apply
    from pyrate_spark.operators.udf_kernels import group_slices, ts_seconds

    schema = ("url string, warc_ts timestamp, value double, "
              "aux_coef double")
    de_pthr = 4

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ts_all = ts_seconds(pdf["warc_ts"])
        v_all = pdf["value"].to_numpy(dtype=np.float64)
        x_all = pdf[aux_col].to_numpy(dtype=np.float64)
        out_val = v_all.copy()
        out_coef = np.full(len(pdf), np.nan)
        for url, idx in group_slices(pdf):
            order = np.argsort(ts_all[idx], kind="stable")
            idx = idx[order]
            t = (ts_all[idx] - ts_all[idx][0]) / SECONDS_PER_YEAR
            y = v_all[idx]
            x = x_all[idx]
            ok = np.isfinite(y) & np.isfinite(x)
            if ok.sum() < de_pthr:
                continue
            A = np.column_stack([np.ones(ok.sum()), t[ok], x[ok]])
            coef = np.linalg.lstsq(A, y[ok], rcond=None)[0]
            out_coef[idx] = coef[2]
            out_val[idx] = y - coef[2] * x       # dem_error.py:246-251
        out = pdf[["url", "warc_ts"]].copy()
        out["value"] = out_val
        out["aux_coef"] = out_coef
        return out

    return keyed_apply(series, "url", fn, schema, detect_hot=False)
