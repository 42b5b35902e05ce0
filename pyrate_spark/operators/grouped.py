"""Grouped-map pandas UDF wiring: attach the per-key numpy kernels.

Execution model (this file is where the scale design lives):

- **Many keys per frame.** ``groupBy('url').applyInPandas`` would give
  one tiny pandas frame per key — millions of Arrow round-trips.
  Instead every kernel takes a frame of MANY keys and loops them in
  numpy inside the worker. ``keyed_apply`` hands it one hash(url)
  partition per frame: ``repartition(N, url)`` then ``mapInPandas``.
  This is the survey's prescription ("batch keys per group", SURVEY.md
  §2.5) and the reference's own tiling idea (Tile/IfgPart,
  shared.py:1135-1161) recast for Spark: partition ≈ tile.

- **The planner keeps url clustering.** When the input is already
  hash-partitioned by url into N partitions (a persisted pair network,
  a tier, a url window), Spark's ``EnsureRequirements`` drops the
  ``repartition(N, url)`` and the kernel runs with no exchange of its
  own. Otherwise it stays ONE ``REPARTITION_BY_NUM`` exchange, which
  AQE does not coalesce: byte-based coalescing would fold a small-byte
  but compute-heavy Python stage into one task. ``extract_series`` and
  ``network_pairs`` pin the same ``repartition(N, url)``
  (``pin_clustering``), so a chain's one url exchange is never
  coalesced either.

- **Hot keys get their own tasks.** A url with 100x the snapshots (the
  skew knob in FIXTURES.md F1) costs O(epochs^3) in the inversion, so
  it would turn its partition into a straggler. ``detect_hot_keys``
  counts keys (one cheap agg); keys above ``hot_factor`` x the mean
  row count leave the cold side and take ``_spread_hot``: a range
  exchange of only their rows, one key per partition — BASELINE.json's
  "explicit skew handling for hot urls". AQE's skew-join splitting
  cannot help a grouped-map (a key is indivisible).

- **No per-row Python.** Everything crosses the JVM/Python boundary as
  Arrow columns; inside, per-key slices are numpy views from a single
  argsort + boundary scan (no pandas groupby overhead). The fused
  rates go further: one Arrow row per url (a sorted list of its pairs).

- **Worker import hygiene.** The UDF bodies live in
  pyrate_spark.operators.udf_kernels, which does NOT import pyspark —
  fresh python workers then skip the pyspark.sql import chain on their
  first task (33 s -> <1 s cold-start on local[32], measured).

Kernel semantics and reference citations: pyrate_spark.kernels.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from pyrate_spark.config import EngineConfig, DEFAULT
from pyrate_spark.operators.udf_kernels import (make_linear_rate_fn,
                                                make_mst_fn,
                                                make_stack_fn,
                                                make_temporal_hp_fn,
                                                make_timeseries_fn,
                                                make_timeseries_rates_arrow_fn)


# --------------------------------------------------------------------------
# keyed execution
# --------------------------------------------------------------------------

def detect_hot_keys(df: DataFrame, key: str = "url",
                    hot_factor: float = 8.0) -> tuple:
    """One counting aggregation -> the (tiny, sorted) set of keys whose
    row-count exceeds hot_factor x mean. Compute this ONCE per pipeline
    and thread the result through every grouped stage via ``hot_keys``
    instead of paying a detection pass per stage.

    Default lowered 20 -> 8 (r8): per-key kernel cost is O(epochs^3),
    so a key at 19x the mean row count is ~7000x the mean COMPUTE —
    measured as a 1.5 s cold-partition straggler (3 near-hot urls sat
    just under the old 20x cut while their 20x siblings were
    isolated). Isolating a key costs one tiny dedicated task, so the
    threshold should err early; 8x keeps uniform keyspaces (the
    events table) at zero detections while catching every generated
    skew tier."""
    counts = df.groupBy(key).count()
    stats = counts.agg(F.avg("count").alias("mean")).first()
    mean = stats["mean"] or 1.0
    rows = (counts.where(F.col("count") > F.lit(hot_factor * mean))
            .select(key).collect())       # tiny by construction
    # a null key is a key: it sorts first, so it can sit beside strings
    return tuple(sorted((r[0] for r in rows),
                        key=lambda k: (k is not None, k)))


def _is_hot(key: str, hot_keys: tuple) -> Column:
    """Null-safe hot-set membership: TRUE for a hot key (a null hot key
    included), FALSE for every other key — never NULL, so the cold side
    ``~_is_hot`` keeps a null key. ``isin`` alone is NULL for a null
    key, which dropped the null group from both sides of the split."""
    named = [k for k in hot_keys if k is not None]
    hot = F.coalesce(F.col(key).isin(named), F.lit(False))
    if len(named) < len(hot_keys):
        hot = hot | F.col(key).isNull()
    return hot


def _spread_hot(hot: DataFrame, key: str, n_hot: int) -> DataFrame:
    """Range-partition the hot subset one-key-per-partition before its
    groupBy: HASH partitioning 25 dedicated keys into 32 reduce
    partitions put 3 keys in one partition (measured), serialising
    3 x ~0.7 s O(epochs^3) inversions into the stage's deterministic
    critical path. RangePartitioning on the key still satisfies the
    groupBy's ClusteredDistribution (all rows of a key share a range),
    so no second exchange — and with N = n_hot partitions over n_hot
    distinct sampled keys the spread is ~1:1."""
    return hot.repartitionByRange(max(1, n_hot), key)


def pin_clustering(df: DataFrame, key: str = "url") -> DataFrame:
    """``repartition(N, key)`` with N = ``spark.sql.shuffle.partitions``:
    the one way this engine pins key clustering. Spark drops it when
    ``df`` is already hash-partitioned by ``key`` into N partitions;
    otherwise it is one exchange that AQE does not coalesce (an explicit
    partition count). Pinned at the head of a keyed chain (extraction,
    the pair network) it keeps AQE from folding the chain's one url
    exchange into a single task when its bytes are small: a grouped
    kernel downstream reuses that exchange, and bytes are the wrong cost
    model for its compute (measured: a 98k-row pair window coalesced
    32 -> 1 partitions turned the Python stage into a serial 7 s task).
    A persisted frame keeps its partitions either way."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, key)


def _hot_split(df: DataFrame, key: str, detect_hot: bool,
               hot_keys: tuple | None):
    """(cold, hot, hot_keys): ``hot`` is None when no key is hot.
    ``hot_keys`` supplies a precomputed hot set (see detect_hot_keys);
    otherwise ``detect_hot`` runs one counting aggregation over ``df`` —
    worth it on raw skewed observations, wasted on derived frames whose
    per-key row count is bounded (e.g. inversion output: one row per
    epoch)."""
    if hot_keys is None:
        hot_keys = detect_hot_keys(df, key) if detect_hot else ()
    if not hot_keys:
        return df, None, hot_keys
    is_hot = _is_hot(key, hot_keys)
    return df.where(~is_hot), df.where(is_hot), hot_keys


def keyed_apply(df: DataFrame, key: str, fn, schema,
                detect_hot: bool = True,
                hot_keys: tuple | None = None) -> DataFrame:
    """Run a many-keys-per-frame grouped-map kernel ``fn`` (pandas frame
    of many keys -> pandas frame).

    Cold keys, ~all the rows: ``pin_clustering`` then ``mapInPandas``,
    one frame per partition — no exchange of its own on a key-clustered
    input. The kernels slice per key themselves, so partition
    boundaries are as good as any group boundary; peak worker memory
    is one partition's columns.

    Hot keys: ``_spread_hot`` -> ``groupBy(key).applyInPandas``. Per-key
    kernel cost is superlinear in per-key observation count (the
    inversion is O(epochs^3)), so a partition that happens to hold
    several 20x-dense keys becomes a 10-20x straggler (measured: 43 s
    max vs 2 s median task). The hot subset is tiny by construction, so
    its range exchange moves only those rows, and each hot key (a null
    one included) gets a task of its own, ~1:1."""
    cold, hot, hot_keys = _hot_split(df, key, detect_hot, hot_keys)

    def mfn(batches):
        import pandas as pd
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = (pdfs[0] if len(pdfs) == 1
               else pd.concat(pdfs, ignore_index=True))
        if len(pdf):
            yield fn(pdf)

    out = pin_clustering(cold, key).mapInPandas(mfn, schema)
    if hot is None:
        return out
    hot = _spread_hot(hot, key, len(hot_keys))
    return out.unionByName(hot.groupBy(key).applyInPandas(fn, schema))


def warm_python_workers(spark, n: Optional[int] = None) -> None:
    """Spin up the python worker pool with a no-op Arrow pass so the
    first real grouped-map stage doesn't pay the worker-spawn storm.
    On a long-lived cluster this is a non-event; in benchmarks it
    separates steady-state throughput from process startup."""
    parts = n or int(spark.conf.get("spark.sql.shuffle.partitions")) * 2
    (spark.range(parts).repartition(parts, "id").groupBy("id")
     .applyInPandas(lambda p: p, "id long").count())


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

TS_SCHEMA = ("url string, epoch_id int, epoch_ts timestamp, "
             "tsvel float, tsincr float, tscuml float")

STACK_SCHEMA = "url string, rate double, error double, samples int"

LR_SCHEMA = ("url string, rate double, intercept double, rsquared double, "
             "error double, samples double")

THP_SCHEMA = ("url string, epoch_ts timestamp, value_hp double, "
              "value_lp double")

MST_SCHEMA = ("url string, ts_first timestamp, ts_second timestamp, "
              "delta_value double, time_span double, nan_fraction double, "
              "in_mst boolean")


def timeseries_per_url(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                       use_mst: bool = True,
                       detect_hot: bool = True,
                       hot_keys: Optional[tuple] = None) -> DataFrame:
    """Pairwise observations -> per-epoch incremental/cumulative series
    per url (timeseries.py:111-157 recast per key). One row per
    (url, epoch), the zero epoch included (tscuml=0)."""
    fn = make_timeseries_fn(cfg.ts_method, cfg.ts_pthr, cfg.sm_order,
                            cfg.sm_factor, use_mst,
                            getattr(cfg, "vcm_mode", "identity"))
    return keyed_apply(_ts_input(pairs, use_mst), "url", fn, TS_SCHEMA,
                       detect_hot, hot_keys)


def _ts_input(pairs: DataFrame, use_mst: bool = True) -> DataFrame:
    """Project the inversion kernels' input columns before the shuffle:
    a Python UDF ships EVERY column of its input through the exchange
    and the Arrow boundary (Catalyst cannot prune into a python UDF),
    so unused pair columns (time_span — the kernels recompute spans
    from epochs) are dead weight at 10^12 rows. ``nan_fraction`` only
    feeds the MST edge weights, so the non-MST path drops it too
    (r8; the kernel's ``_pair_arrays`` already defaults it to zeros
    when absent)."""
    keep = [c for c in ("url", "ts_first", "ts_second", "delta_value",
                        "nan_fraction", "maxvar") if c in pairs.columns]
    if not use_mst and "nan_fraction" in keep:
        keep.remove("nan_fraction")
    return pairs.select(*keep)


def stack_rate_per_url(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                       use_mst: bool = True,
                       detect_hot: bool = True,
                       hot_keys: Optional[tuple] = None) -> DataFrame:
    """Iterative WLS stacking per url (stack.py:92-165); ``error`` is
    scaled by velerror_nsig (stack.py:60)."""
    fn = make_stack_fn(cfg.nsig, cfg.pthr, float(cfg.velerror_nsig),
                       use_mst, getattr(cfg, "vcm_mode", "identity"))
    return keyed_apply(pairs, "url", fn, STACK_SCHEMA, detect_hot,
                       hot_keys)


def mask_rate_df(rates: DataFrame, maxsig: float) -> DataFrame:
    """P4 relational form (stack.py:62-89): NULL-out rate/error where
    error > maxsig."""
    bad = F.col("error") > F.lit(float(maxsig))
    return (rates
            .withColumn("rate_masked",
                        F.when(bad, None).otherwise(F.col("rate")))
            .withColumn("error_masked",
                        F.when(bad, None).otherwise(F.col("error"))))


def linear_rate_per_url(tscuml_df: DataFrame, cfg: EngineConfig = DEFAULT,
                        value_col: str = "tscuml",
                        ts_col: str = "epoch_ts") -> DataFrame:
    """Linear regression of the cumulative series per url
    (timeseries.py:292-379); input should contain the zero epoch
    (timeseries_per_url emits it, mirroring np.insert at
    timeseries.py:429). Vectorised across keys via linregress_batch;
    ``error`` scaled by velerror_nsig (timeseries.py:379). No hot pass:
    per-key rows are bounded by epoch count."""
    fn = make_linear_rate_fn(float(cfg.velerror_nsig), value_col, ts_col)
    return keyed_apply(tscuml_df, "url", fn, LR_SCHEMA, detect_hot=False)


def linear_rate_from_pairs(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                           use_mst: bool = True,
                           detect_hot: bool = True,
                           hot_keys: Optional[tuple] = None) -> DataFrame:
    """Fused pairs -> linear rates: timeseries_per_url +
    linear_rate_per_url in ONE grouped-map stage. Same output,
    bit-exact (tests/test_fused_rates.py), but the per-epoch
    intermediate (≈ epochs/pairs x smaller than the output of the
    first stage) never leaves the python worker. Use when only the
    rates are needed; keep the two-stage form when the time series
    itself is a product.

    Grouped-list Arrow boundary: each url is aggregated to ONE row
    JVM-side — (url, sorted list<struct(t1,t2,dv[,w][,mv])>) — so each
    url string crosses the boundary once instead of per pair row. Cold
    urls aggregate over ``pin_clustering`` (no exchange on a
    url-clustered input); hot urls over ``_spread_hot``, one key per
    task, through the same ``mapInArrow`` body."""
    src = _ts_input(pairs, use_mst)
    cold, hot, hot_keys = _hot_split(src, "url", detect_hot, hot_keys)
    has_w = "nan_fraction" in src.columns
    has_mv = "maxvar" in src.columns
    fields = [F.unix_timestamp("ts_first").alias("t1"),
              F.unix_timestamp("ts_second").alias("t2"),
              F.col("delta_value").alias("dv")]
    if has_w:
        fields.append(F.col("nan_fraction").alias("w"))
    if has_mv:
        fields.append(F.col("maxvar").alias("mv"))
    afn = make_timeseries_rates_arrow_fn(
        cfg.ts_method, cfg.ts_pthr, cfg.sm_order, cfg.sm_factor, use_mst,
        getattr(cfg, "vcm_mode", "identity"), float(cfg.velerror_nsig),
        has_w, has_mv)

    def rates(df: DataFrame) -> DataFrame:
        return (df.groupBy("url")
                .agg(F.sort_array(F.collect_list(F.struct(*fields)))
                     .alias("_s"))
                .mapInArrow(afn, LR_SCHEMA))

    out = rates(pin_clustering(cold, "url"))
    if hot is None:
        return out
    return out.unionByName(rates(_spread_hot(hot, "url", len(hot_keys))))


def temporal_highpass_per_url(series: DataFrame,
                              cfg: EngineConfig = DEFAULT,
                              value_col: str = "value",
                              ts_col: str = "warc_ts") -> DataFrame:
    """Gaussian temporal high-pass per url on an irregular axis
    (aps.py:322-397) — the canonical data-dependent-weights window that
    Window.rangeBetween cannot express."""
    fn = make_temporal_hp_fn(cfg.tlpf_cutoff_days, cfg.tlpf_pthr,
                             value_col, ts_col)
    return keyed_apply(series, "url", fn, THP_SCHEMA, detect_hot=False)


def mst_annotate(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                 detect_hot: bool = True,
                 hot_keys: Optional[tuple] = None) -> DataFrame:
    """Annotate each observation with its key's MST membership
    (mst.py:146-170 boolean cube -> boolean column)."""
    return keyed_apply(pairs, "url", make_mst_fn(), MST_SCHEMA,
                       detect_hot, hot_keys)
