"""Pairwise epoch differencing — forming the observation network (J5).

The reference *receives* its observations pre-formed (each interferogram
is phase(second) - phase(first) per pixel); this engine must form them
from per-url snapshots. Two flavours:

- :func:`sequential_pairs` — consecutive snapshots via ``lag`` over a
  per-url ordered window: one shuffle on url, no join.
- :func:`network_pairs` — each snapshot pairs with its k nearest
  forward neighbours within a max temporal baseline: the
  redundant-network analog of the reference's ifg list, enabling MST
  selection / closure loops per key. Default path is k ``lead()``
  shifts over one per-url ordered window (O(rows x k), one shuffle);
  a bounded range self-join (``b.ts > a.ts AND b.ts <= a.ts +
  max_span``, ranked) is retained via ``via="range_join"`` for
  duplicate-keyed input.

J1 epoch-id assignment: dense_rank over distinct warc_ts per url
(algorithm.py:225-237: sorted distinct dates -> dense ids).
nan_fraction per pair: the per-url fraction of NULL raw values — the
reference's per-ifg nan_fraction (shared.py:477-492) reused as the MST
edge weight (mst.py:63).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pyrate_spark.datagen import YEAR_SECONDS
from pyrate_spark.operators.grouped import pin_clustering


def epoch_ids(series: DataFrame) -> DataFrame:
    """J1: per-url dense epoch ids, oldest = 0, plus year-fraction spans
    from the per-url first epoch (EpochList analog)."""
    w = Window.partitionBy("url").orderBy("warc_ts")
    # the per-url FIRST epoch is min(warc_ts) over the ordered window's
    # default running frame (rows are ordered by warc_ts, so the running
    # min IS the global min) — same spec as dense_rank, so Catalyst
    # plans ONE Window node / one sort; a separate unordered spec
    # planned a second Sort over the same Exchange
    return (series
            .withColumn("epoch_id", F.dense_rank().over(w) - 1)
            .withColumn(
                "span_years",
                (F.unix_timestamp("warc_ts")
                 - F.unix_timestamp(F.min("warc_ts").over(w))).cast("double")
                / F.lit(YEAR_SECONDS)))


def sequential_pairs(series: DataFrame, value_col: str = "value") -> DataFrame:
    """Consecutive-snapshot deltas per url (the chain network)."""
    w = Window.partitionBy("url").orderBy("warc_ts")
    return (series
            .select("url", "warc_ts", value_col)
            .withColumn("ts_first", F.lag("warc_ts").over(w))
            .withColumn("v_first", F.lag(value_col).over(w))
            .where(F.col("ts_first").isNotNull())
            .select(
                "url",
                "ts_first",
                F.col("warc_ts").alias("ts_second"),
                (F.col(value_col) - F.col("v_first")).alias("delta_value"),
                ((F.unix_timestamp("warc_ts")
                  - F.unix_timestamp("ts_first")).cast("double")
                 / F.lit(YEAR_SECONDS)).alias("time_span")))


def network_pairs(series: DataFrame, max_span_days: int = 90,
                  max_pairs_per_epoch: int = 3,
                  value_col: str = "value",
                  via: str = "window") -> DataFrame:
    """Redundant pair network: each snapshot pairs with up to k forward
    neighbours within the max temporal baseline — the graft's ifg list.

    Returns (url, ts_first, ts_second, delta_value, time_span,
    nan_fraction) where nan_fraction is the per-url NULL fraction of the
    raw series (MST edge weight, mst.py:63-70; per-ifg nan_fraction
    shared.py:477-492 collapses to a per-url quantity here because every
    observation of a key shares the key's null history).

    ``via="window"`` (default, r7): because the k nearest FORWARD
    neighbours within the span are exactly the next k rows in per-url
    timestamp order, the whole construction is ``lead(ts, i)`` /
    ``lead(value, i)`` for i=1..k over one per-url ordered window —
    O(rows x k) work, ONE shuffle, no join. The older range self-join
    materialised rows x (span/step) candidate rows before the rank
    filter (24h data with a 3-day span = 72x fan-out; at 100 TB that
    intermediate is the whole job), so it is kept only as
    ``via="range_join"`` for inputs with duplicate (url, warc_ts) keys,
    where "next k rows" is ill-defined. Both paths are bit-equal on
    unique-keyed input (pinned by pytest); canonical sources collapse
    duplicates upstream (``_events``: groupBy url, second).

    The one url exchange is ``pin_clustering``'s (none when ``series``
    is already clustered, e.g. by ``extract_series``), so the grouped
    kernels that consume the pairs reuse it and AQE never coalesces it.
    """
    if via not in ("window", "range_join"):
        raise ValueError(f"via must be 'window' or 'range_join': {via!r}")
    series = pin_clustering(series)
    nf = Window.partitionBy("url")
    nan_frac = F.avg(F.when(F.col(value_col).isNull(), 1.0).otherwise(0.0))
    span = F.expr(f"INTERVAL {max_span_days} DAYS")
    if via == "window":
        w = nf.orderBy("warc_ts")
        # nan_fraction over the SAME ordered spec (explicit full frame):
        # identical partition+order lets Catalyst fuse it into the one
        # Window node the lead() shifts use, so the per-url frame is
        # sorted ONCE — the unordered spec planned a second Sort over
        # the full input (measured: two Sort nodes under one Exchange).
        # The summands are exact 0/1 doubles, so frame order cannot
        # change the average.
        base = (series
                .select("url", "warc_ts", value_col)
                .withColumn("nan_fraction", nan_frac.over(
                    w.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
        nxt = F.array(*[
            F.struct(
                F.lead("warc_ts", i).over(w).alias("ts_second"),
                F.lead(value_col, i).over(w).alias("v_second"))
            for i in range(1, max_pairs_per_epoch + 1)])
        return (base
                .select("url",
                        F.col("warc_ts").alias("ts_first"),
                        F.col(value_col).alias("v_first"),
                        "nan_fraction",
                        nxt.alias("_next"))
                .select("url", "ts_first", "v_first", "nan_fraction",
                        F.explode("_next").alias("_n"))
                .where(F.col("_n.ts_second").isNotNull()
                       & (F.col("_n.ts_second") > F.col("ts_first"))
                       & (F.col("_n.ts_second") <= F.col("ts_first") + span))
                .select(
                    "url", "ts_first",
                    F.col("_n.ts_second").alias("ts_second"),
                    (F.col("_n.v_second") - F.col("v_first"))
                    .alias("delta_value"),
                    ((F.unix_timestamp(F.col("_n.ts_second"))
                      - F.unix_timestamp("ts_first")).cast("double")
                     / F.lit(YEAR_SECONDS)).alias("time_span"),
                    "nan_fraction"))
    base = (series
            .select("url", "warc_ts", value_col)
            .withColumn("nan_fraction", nan_frac.over(nf)))
    a = base.select(
        "url",
        F.col("warc_ts").alias("ts_first"),
        F.col(value_col).alias("v_first"),
        "nan_fraction")
    # the right side renames its key: both frames share lineage, and a
    # same-named Column equality would lean on Spark's dataset-id
    # disambiguation (it works but warns 'trivially true predicate')
    b = base.select(
        F.col("url").alias("_url_b"),
        F.col("warc_ts").alias("ts_second"),
        F.col(value_col).alias("v_second"))
    joined = a.join(
        b,
        on=[F.col("url") == F.col("_url_b"),
            F.col("ts_second") > F.col("ts_first"),
            F.col("ts_second") <= F.col("ts_first") + span],
        how="inner").drop("_url_b")
    rk = Window.partitionBy("url", "ts_first").orderBy("ts_second")
    return (joined
            .withColumn("_rk", F.row_number().over(rk))
            .where(F.col("_rk") <= max_pairs_per_epoch)
            .select(
                "url", "ts_first", "ts_second",
                (F.col("v_second") - F.col("v_first")).alias("delta_value"),
                ((F.unix_timestamp("ts_second")
                  - F.unix_timestamp("ts_first")).cast("double")
                 / F.lit(YEAR_SECONDS)).alias("time_span"),
                "nan_fraction"))


def pair_lookup(pairs: DataFrame, wanted: DataFrame) -> DataFrame:
    """J2: find observations by (first, second) composite key — a
    broadcast equi-join (the dimension side is tiny, algorithm.py:126-188)."""
    return pairs.join(F.broadcast(wanted), ["ts_first", "ts_second"], "inner")


def file_pairing(obs: DataFrame, aux: DataFrame, key_cols) -> DataFrame:
    """J4 analog: match observations to an auxiliary table on an epoch
    key and assert uniqueness (prepifg_helper.py:405-433 errors when one
    key matches more than one file)."""
    counts = aux.groupBy(*key_cols).count()
    dupes = counts.where(F.col("count") > 1).limit(1).collect()
    if dupes:
        raise ValueError(f"duplicate auxiliary match for key {dupes[0]}")
    return obs.join(F.broadcast(aux), list(key_cols), "left")
