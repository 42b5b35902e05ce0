"""Grouped-map pandas UDF wiring: attach the per-key numpy kernels.

Execution model (this file is where the scale design lives):

- **Key-batched groups.** ``groupBy('url')`` would give one tiny pandas
  frame per key — millions of Arrow round-trips. Instead we group by a
  hash *bucket* of the url (``_bucket``): each Arrow batch carries many
  keys, and the kernel loops keys in numpy inside the worker. This is
  the survey's prescription ("batch keys per group", SURVEY.md §2.5)
  and the reference's own tiling idea (Tile/IfgPart, shared.py:1135-1161)
  recast for Spark: bucket ≈ tile.

- **Explicit hot-key salting.** A url with 100x the snapshots (the skew
  knob in FIXTURES.md F1) would dominate its bucket. ``salted_buckets``
  counts keys (one cheap agg), and every key above ``hot_factor`` x the
  mean row-count gets a dedicated bucket via a broadcast map join —
  BASELINE.json's "explicit salt-based skew handling for hot urls".
  Non-hot keys hash uniformly. AQE's skew-join splitting cannot help a
  grouped-map (a key is indivisible); isolating hot keys restores
  near-uniform task sizes.

- **No per-row Python.** Everything crosses the JVM/Python boundary as
  Arrow columns; inside, per-key slices are numpy views from a single
  argsort + boundary scan (no pandas groupby overhead).

- **Worker import hygiene.** The UDF bodies live in
  pyrate_spark.operators.udf_kernels, which does NOT import pyspark —
  fresh python workers then skip the pyspark.sql import chain on their
  first task (33 s -> <1 s cold-start on local[32], measured).

Kernel semantics and reference citations: pyrate_spark.kernels.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import Column, DataFrame, Window, functions as F

from pyrate_spark.config import EngineConfig, DEFAULT
from pyrate_spark.operators.udf_kernels import (make_linear_rate_fn,
                                                make_mst_fn,
                                                make_stack_fn,
                                                make_temporal_hp_fn,
                                                make_timeseries_fn)


# --------------------------------------------------------------------------
# bucketing / salting
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


def salted_buckets(df: DataFrame, key: str = "url",
                   n_buckets: int = 64, hot_factor: float = 8.0,
                   detect_hot: bool = True,
                   hot_keys: tuple | None = None) -> DataFrame:
    """Append ``_bucket``: uniform hash bucket, except keys whose
    row-count exceeds hot_factor x mean get dedicated buckets.

    ``hot_keys`` supplies a precomputed hot set (see detect_hot_keys);
    otherwise ``detect_hot`` runs one counting aggregation over the
    input — worth it on raw skewed observations, wasted on derived
    frames whose per-key row count is bounded (e.g. inversion output:
    one row per epoch). Detection re-executes the upstream DAG when the
    input is not persisted — callers chaining grouped stages should
    persist the intermediate, pass hot_keys, or detect_hot=False.
    Dedicated bucket ids come from the driver-side enumeration of the
    hot set (no global-window shuffle-to-one-partition)."""
    if hot_keys is None:
        if not detect_hot:
            hot_keys = ()
        else:
            hot_keys = detect_hot_keys(df, key, hot_factor)
    if not hot_keys:
        return df.withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))
    hot = df.sparkSession.createDataFrame(
        [(k, n_buckets + i) for i, k in enumerate(hot_keys)],
        df.select(key).schema.add("_hot_bucket", "long"))
    return (df.join(F.broadcast(hot), key, "left")
            .withColumn(
                "_bucket",
                F.coalesce(
                    F.col("_hot_bucket"),
                    F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))))
            .drop("_hot_bucket"))


def clustered_by_key(df: DataFrame, key: str) -> bool:
    """True when ``df``'s physical output partitioning already hash-
    clusters rows by exactly ``key`` — i.e. every key's rows are in one
    partition and a grouped-map stage can run WITHOUT its own exchange
    (guide: two operations keyed the same way share one exchange).

    Soundness: we read the pre-AQE initial physical plan (AQE reports
    UnknownPartitioning before execution, and at runtime may only
    COALESCE reduce partitions — merging whole partitions preserves
    same-key-same-partition — or split skewed JOIN partitions, which
    never applies to the stage-output partitioning seen here). The
    partitioning must be HashPartitioning over a single
    AttributeReference whose exprId is the SAME attribute as the
    frame's ``key`` output column, so a rename / rebuild / repartition
    by anything else makes this return False and the caller falls back
    to the explicit bucketed exchange.

    The frame must additionally bottom out (through Project/Filter
    only) in a PERSISTED relation: a cached plan's partition layout is
    pinned at materialisation, while an unpersisted exchange is
    re-planned per query and AQE's byte-based coalescing can legally
    collapse a small-byte but compute-heavy stage to ONE partition
    (measured: a 98k-row pair window coalesced 32 -> 1 and turned the
    python stage into a serial 7 s task — bytes are the wrong cost
    model for grouped-map compute, the same reason _bucketed uses an
    explicit coalesce-exempt repartition)."""
    if os.environ.get("PYRATE_NO_CLUSTER_REUSE"):
        return False
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while node.getClass().getSimpleName() in ("Project", "Filter"):
            node = node.children().head()
        if node.getClass().getSimpleName() != "InMemoryRelation":
            return False
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()
        part = plan.outputPartitioning()
        if part.getClass().getSimpleName() != "HashPartitioning":
            return False
        exprs = part.expressions()
        if exprs.length() != 1:
            return False
        e = exprs.apply(0)
        if e.getClass().getSimpleName() != "AttributeReference" \
                or e.name() != key:
            return False
        out = qe.analyzed().output().iterator()
        while out.hasNext():
            a = out.next()
            if a.name() == key:
                return bool(a.exprId().equals(e.exprId()))
        return False
    except Exception:
        return False


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


def keyed_apply(df: DataFrame, key: str, n_buckets: int, fn, schema,
                detect_hot: bool = True,
                hot_keys: tuple | None = None) -> DataFrame:
    """Run a many-keys-per-frame grouped-map kernel. Two plans:

    - input already hash-clustered by ``key`` (the upstream window /
      aggregation partitioning, detected soundly by
      :func:`clustered_by_key`): ``mapInPandas`` over the existing
      partitions — ZERO additional exchange, no salting join — for the
      cold keys, which are ~all the rows. The kernels batch many keys
      per frame and slice per key themselves, so partition boundaries
      are as good as bucket boundaries; peak worker memory is one
      partition's columns, the same ~100-500 MB budget the bucket-count
      rule targets at cluster scale.

      HOT keys still take a dedicated exchanged path: per-key kernel
      cost is superlinear in per-key observation count (the inversion
      is O(epochs^3)), so a partition that happens to hold several
      20x-dense keys becomes a 10-20x straggler (measured: 43 s max vs
      2 s median task). The hot subset is tiny by construction
      (hot_factor x mean), so its ``groupBy(key)`` exchange moves only
      those rows and each hot key becomes its own task — the exact
      skew isolation the salted path had, at a fraction of the shuffle.
    - otherwise: the r1-r7 salted-bucket path (one exchange, explicit
      hot-key isolation).
    """
    if clustered_by_key(df, key):
        if hot_keys is None:
            hot_keys = (detect_hot_keys(df, key) if detect_hot else ())

        def mfn(batches):
            import pandas as pd
            pdfs = list(batches)
            if not pdfs:
                return
            pdf = (pdfs[0] if len(pdfs) == 1
                   else pd.concat(pdfs, ignore_index=True))
            if len(pdf):
                yield fn(pdf)

        if not hot_keys:
            return df.mapInPandas(mfn, schema)
        is_hot = _is_hot(key, hot_keys)
        cold = df.where(~is_hot)
        hot = _spread_hot(df.where(is_hot), key, len(hot_keys))
        return (cold.mapInPandas(mfn, schema)
                .unionByName(hot.groupBy(key).applyInPandas(fn, schema)))
    return (_bucketed(df, key, n_buckets, detect_hot=detect_hot,
                      hot_keys=hot_keys)
            .groupBy("_bucket").applyInPandas(fn, schema))


def _bucketed(df: DataFrame, key: str, n_buckets: int,
              detect_hot: bool = True,
              hot_keys: tuple | None = None) -> DataFrame:
    """Salt + explicit repartition on the bucket. The explicit
    ``repartition(n, _bucket)`` matters at every scale: AQE's byte-based
    partition coalescing would fold a small-byte but compute-heavy
    Python stage into one task (bytes are the wrong cost model for
    grouped-map UDFs); a user-specified repartition is exempt from
    coalescing and already satisfies the groupBy clustering, so no
    second exchange is inserted.

    Bucket-count vs partition-count (measured on local[32], 150k pairs):
    partitions ~ 2x parallelism keeps every core fed without task-dispatch
    overhead dominating, and buckets >= 8x partitions gives the bin-packer
    enough granularity that per-partition compute evens out (stragglers
    come from coarse buckets, not from Spark). At cluster scale choose
    n_buckets so one bucket's rows fit executor memory (~100-500 MB) —
    the reference's tile-sizing rule (shared.py:1135-1143) transplanted.
    """
    spark_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = spark_parts * 2
    n_buckets = max(n_buckets, parts * 8)
    return (salted_buckets(df, key, n_buckets, detect_hot=detect_hot,
                           hot_keys=hot_keys)
            .repartition(parts, "_bucket"))


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
                       n_buckets: Optional[int] = None,
                       detect_hot: bool = True,
                       hot_keys: Optional[tuple] = None) -> DataFrame:
    """Pairwise observations -> per-epoch incremental/cumulative series
    per url (timeseries.py:111-157 recast per key). One row per
    (url, epoch), the zero epoch included (tscuml=0)."""
    fn = make_timeseries_fn(cfg.ts_method, cfg.ts_pthr, cfg.sm_order,
                            cfg.sm_factor, use_mst,
                            getattr(cfg, "vcm_mode", "identity"))
    return keyed_apply(_ts_input(pairs, use_mst), "url",
                       n_buckets or cfg.salt_buckets, fn, TS_SCHEMA,
                       detect_hot, hot_keys)


def _ts_input(pairs: DataFrame, use_mst: bool = True) -> DataFrame:
    """Project the inversion kernels' input columns before the shuffle:
    applyInPandas ships EVERY column of its input through the exchange
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
                       n_buckets: Optional[int] = None,
                       detect_hot: bool = True,
                       hot_keys: Optional[tuple] = None) -> DataFrame:
    """Iterative WLS stacking per url (stack.py:92-165); ``error`` is
    scaled by velerror_nsig (stack.py:60)."""
    fn = make_stack_fn(cfg.nsig, cfg.pthr, float(cfg.velerror_nsig),
                       use_mst, getattr(cfg, "vcm_mode", "identity"))
    return keyed_apply(pairs, "url", n_buckets or cfg.salt_buckets,
                       fn, STACK_SCHEMA, detect_hot, hot_keys)


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
                        n_buckets: Optional[int] = None,
                        value_col: str = "tscuml",
                        ts_col: str = "epoch_ts") -> DataFrame:
    """Linear regression of the cumulative series per url
    (timeseries.py:292-379); input should contain the zero epoch
    (timeseries_per_url emits it, mirroring np.insert at
    timeseries.py:429). Vectorised across keys via linregress_batch;
    ``error`` scaled by velerror_nsig (timeseries.py:379). No hot pass:
    per-key rows are bounded by epoch count."""
    fn = make_linear_rate_fn(float(cfg.velerror_nsig), value_col, ts_col)
    return keyed_apply(tscuml_df, "url", n_buckets or cfg.salt_buckets,
                       fn, LR_SCHEMA, detect_hot=False)


def linear_rate_from_pairs(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                           use_mst: bool = True,
                           n_buckets: Optional[int] = None,
                           detect_hot: bool = True,
                           hot_keys: Optional[tuple] = None) -> DataFrame:
    """Fused pairs -> linear rates: timeseries_per_url +
    linear_rate_per_url in ONE grouped-map stage. Same output,
    bit-exact (tests/test_fused_rates.py), but the per-epoch
    intermediate (≈ epochs/pairs x smaller than the output of the
    first stage) never leaves the python worker — one exchange and one
    Arrow round trip instead of two of each. Use when only the rates
    are needed; keep the two-stage form when the time series itself is
    a product."""
    from pyrate_spark.operators.udf_kernels import (
        make_timeseries_rates_arrow_fn, make_timeseries_rates_fn)
    vcm = getattr(cfg, "vcm_mode", "identity")
    fn = make_timeseries_rates_fn(cfg.ts_method, cfg.ts_pthr,
                                  cfg.sm_order, cfg.sm_factor, use_mst,
                                  vcm, float(cfg.velerror_nsig))
    src = _ts_input(pairs, use_mst)
    if clustered_by_key(src, "url"):
        # r8 grouped-list Arrow boundary: aggregate each url to ONE
        # row JVM-side — the agg reuses the pair network's url
        # clustering (zero exchange) — and ship
        # (url, sorted list<struct(t1,t2,dv[,w][,mv])>) so each url
        # string crosses the boundary once instead of per pair row.
        # Hot keys still take the dedicated exchanged path (per-key
        # cost is O(epochs^3)); see keyed_apply.
        if hot_keys is None:
            hot_keys = detect_hot_keys(src) if detect_hot else ()
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
            cfg.ts_method, cfg.ts_pthr, cfg.sm_order, cfg.sm_factor,
            use_mst, vcm, float(cfg.velerror_nsig), has_w, has_mv)
        cold = src
        if hot_keys:
            cold = src.where(~_is_hot("url", hot_keys))
        out_cold = (cold
                    .groupBy("url")
                    .agg(F.sort_array(F.collect_list(
                        F.struct(*fields))).alias("_s"))
                    .mapInArrow(afn, LR_SCHEMA))
        if not hot_keys:
            return out_cold
        hot = _spread_hot(src.where(_is_hot("url", hot_keys)),
                          "url", len(hot_keys))
        return out_cold.unionByName(
            hot.groupBy("url").applyInPandas(fn, LR_SCHEMA))
    return keyed_apply(src, "url",
                       n_buckets or cfg.salt_buckets, fn, LR_SCHEMA,
                       detect_hot, hot_keys)


def temporal_highpass_per_url(series: DataFrame,
                              cfg: EngineConfig = DEFAULT,
                              value_col: str = "value",
                              ts_col: str = "warc_ts",
                              n_buckets: Optional[int] = None) -> DataFrame:
    """Gaussian temporal high-pass per url on an irregular axis
    (aps.py:322-397) — the canonical data-dependent-weights window that
    Window.rangeBetween cannot express."""
    fn = make_temporal_hp_fn(cfg.tlpf_cutoff_days, cfg.tlpf_pthr,
                             value_col, ts_col)
    return keyed_apply(series, "url", n_buckets or cfg.salt_buckets,
                       fn, THP_SCHEMA, detect_hot=False)


def mst_annotate(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                 n_buckets: Optional[int] = None,
                 detect_hot: bool = True,
                 hot_keys: Optional[tuple] = None) -> DataFrame:
    """Annotate each observation with its key's MST membership
    (mst.py:146-170 boolean cube -> boolean column)."""
    fn = make_mst_fn()
    return keyed_apply(pairs, "url", n_buckets or cfg.salt_buckets,
                       fn, MST_SCHEMA, detect_hot, hot_keys)
