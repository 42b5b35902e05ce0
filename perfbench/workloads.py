"""The workloads: their seeded inputs and one pass over them.

A pass calls the engine the way its user would and writes every product
to a Parquet sink (or, for the incremental workload, to the snapshot
and day stores). Each call into an engine module sits in a tracer span
named after the module's layer. Captures that checks need from the
middle of a pass run inside ``tr.untimed()``, which the pass wall time
leaves out.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs as I

HOUR = 3600
DAY = 86400


@dataclass(frozen=True)
class Spec:
    name: str
    n_urls: int
    step_s: int
    days: float
    gap_share: float = 0.2
    hot_urls: int = 0
    hot_factor: int = 10
    null_url_share: float = 0.3     # share of urls that have missing values
    null_value_share: float = 0.15  # missing share within such a url
    noise: float = 0.05
    files: int = 4
    extra: dict = field(default_factory=dict)


SPECS = {
    "batch_skewed": Spec("batch_skewed", n_urls=1000, step_s=6 * HOUR,
                         days=8, hot_urls=3, hot_factor=20),
    "incremental_maintenance": Spec(
        "incremental_maintenance", n_urls=800, step_s=HOUR, days=2,
        null_url_share=0.2, null_value_share=0.1,
        extra=dict(deltas=1, delta_hours=6, late_share=0.05,
                   max_files_per_day=2, keep_days=2)),
}

# engine settings shared by every pass
RATES_CFG = dict(ts_method=2, ts_pthr=0, velerror_nsig=1)
PAIR_SPAN_DAYS = 3
PAIRS_PER_EPOCH = 2
LTTB_N_OUT = 12
ASOF_TOLERANCE_S = 6 * HOUR
TWA_MAX_GAP_S = 12 * HOUR
WATERMARK = "2 hours"
READ_URL_RANGE = ("https://host000.example/", "https://host004.example/")


class Dirs:
    """Every path a workload reads or writes, under one work directory."""

    def __init__(self, work: str):
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")

    def product(self, name: str) -> str:
        return os.path.join(self.out, name)

    def fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def make_inputs(spec: Spec, seed: int, dirs: Dirs) -> dict:
    """Generate and land the workload's inputs; return what the checks
    need to know about them (never handed to the engine)."""
    rng = np.random.default_rng([seed, zlib.crc32(spec.name.encode())])
    n = spec.n_urls + spec.hot_urls
    names = I.url_names(n)
    rate, amp = I.url_params(rng, n)
    null_share = np.where(rng.random(n) < spec.null_url_share,
                          spec.null_value_share, 0.0)
    # hot urls are the last ones; every other one is null-free so the
    # exact rate check covers hot keys too
    hot = np.arange(spec.n_urls, n)
    null_share[hot[::2]] = 0.0
    null_share[hot[1::2]] = spec.null_value_share
    shutil.rmtree(dirs.inputs, ignore_errors=True)
    t0 = I.START_UNIX
    meta = {"hot_urls": sorted(names[hot].tolist())}
    if not spec.extra:
        t1 = t0 + int(spec.days * DAY)
        parts = [I.crawl(rng, np.arange(spec.n_urls), spec.step_s, t0, t1,
                         spec.gap_share, rate, amp, spec.noise, null_share)]
        if spec.hot_urls:
            parts.append(I.crawl(rng, hot, spec.step_s // spec.hot_factor,
                                 t0, t1, spec.gap_share, rate, amp,
                                 spec.noise, null_share))
        table = I.pages_table(I.concat(*parts), names, I.NULL_URL_ROWS)
        I.land(table, os.path.join(dirs.inputs, "pages"), spec.files)
        meta["rows"] = table.num_rows
        return meta
    x = spec.extra
    base_end = t0 + int(spec.days * DAY)
    slices = [("base", t0, base_end)]
    for k in range(x["deltas"]):
        lo = base_end + k * x["delta_hours"] * HOUR
        slices.append((f"delta{k + 1}", lo, lo + x["delta_hours"] * HOUR))
    rows = 0
    for name, lo, hi in slices:
        c = I.crawl(rng, np.arange(n), spec.step_s, lo, hi, spec.gap_share,
                    rate, amp, spec.noise, null_share)
        table = I.pages_table(c, names)
        I.land(table, os.path.join(dirs.inputs, name), spec.files,
               prefix=name)
        rows += table.num_rows
    # late records: one per chosen url, inside the first day, long past
    # the watermark when they arrive
    late_urls = np.flatnonzero(rng.random(n) < x["late_share"])
    late_ts = t0 + rng.integers(0, DAY // spec.step_s, len(late_urls)) \
        * spec.step_s + spec.step_s // 4 * 3 + 7
    late_val = rng.uniform(-5.0, 5.0, len(late_urls))
    late = I.pages_table(I.Crawl(late_urls, late_ts.astype(np.int64),
                                 late_val), names)
    I.land(late, os.path.join(dirs.inputs, "late"), 1, prefix="late")
    rows += late.num_rows
    meta.update(rows=rows, slices=[s[0] for s in slices],
                end_unix=slices[-1][2])
    return meta


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------

def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def batch_pass(spark, tr, spec: Spec, dirs: Dirs, meta: dict) -> dict:
    """Batch trend inversion over the skewed crawl, then the dashboard
    products over the same series and hourly tier."""
    from pyrate_spark.config import EngineConfig
    from pyrate_spark.operators.extract import extract_series
    from pyrate_spark.operators.grouped import (detect_hot_keys,
                                                linear_rate_from_pairs)
    from pyrate_spark.operators.pairs import network_pairs
    from pyrate_spark.operators.rollup import cascade_rollup, tier_rollup
    from pyrate_spark.operators.tiersink import decode_tier, encode_tier
    cfg = EngineConfig(salt_buckets=spark.sparkContext.defaultParallelism
                       * 8, **RATES_CFG)
    p = dirs.product
    with tr.span("extract"):
        series = extract_series(
            spark.read.parquet(os.path.join(dirs.inputs, "pages"))).persist()
        tr.count("extract.rows", series.count())
    with tr.span("rollup.hour"):
        hourly = tier_rollup(series, "1 hour").persist()
        _write(hourly, p("hourly"))
    with tr.span("rollup.cascade"):
        daily = cascade_rollup(hourly, "1 day").persist()
        _write(daily, p("daily"))
        _write(cascade_rollup(daily, "1 week"), p("weekly"))
    with tr.span("pairs"):
        pairs = network_pairs(series, max_span_days=PAIR_SPAN_DAYS,
                              max_pairs_per_epoch=PAIRS_PER_EPOCH).persist()
        tr.count("pairs.rows", pairs.count())
    with tr.span("grouped.hot_detect"):
        hot = detect_hot_keys(pairs)
    tr.count("grouped.hot_keys", len(hot))
    with tr.span("grouped.rates"):
        _write(linear_rate_from_pairs(pairs, cfg, use_mst=False,
                                      hot_keys=hot), p("rates"))
    with tr.span("grouped.rates_mst"):
        _write(linear_rate_from_pairs(pairs, cfg, use_mst=True,
                                      hot_keys=hot), p("rates_mst"))
    with tr.span("tiersink.encode"):
        _write(encode_tier(hourly, "1 hour"), p("encoded"))
    with tr.span("tiersink.decode"):
        _write(decode_tier(spark.read.parquet(p("encoded"))), p("decoded"))
    dashboard_pass(spark, tr, dirs, series, hourly)
    for df in (series, hourly, daily, pairs):
        df.unpersist()
    return {"hot_keys": list(hot)}


def dashboard_pass(spark, tr, dirs: Dirs, series, tier) -> None:
    """Dashboard products over a raw series and its hourly tier, one per
    operator module: a mergeable (OHLC) tier, an anomaly score, a
    derived metric, a downsample and an as-of enrichment. All JVM column
    algebra, no Python."""
    from pyspark.sql import functions as F
    from pyrate_spark.operators import anomaly, downsample, metrics
    from pyrate_spark.operators.asof import asof_join
    from pyrate_spark.operators.rollup import ohlc_rollup
    p = dirs.product
    with tr.span("rollup.mergeable"):
        _write(ohlc_rollup(series, "1 hour"), p("ohlc_hour"))
    with tr.span("anomaly"):
        _write(anomaly.anomaly_zscore(tier), p("zscore"))
    with tr.span("metrics"):
        _write(metrics.time_weighted_avg(series, HOUR,
                                         max_gap_sec=TWA_MAX_GAP_S),
               p("twa"))
    with tr.span("downsample"):
        _write(downsample.lttb_downsample(series, LTTB_N_OUT), p("lttb"))
    with tr.span("asof"):
        right = (tier.where(F.col("value_avg").isNotNull())
                 .select("url", "bucket_start",
                         F.col("value_avg").alias("hour_avg")))
        _write(asof_join(series.select("url", "warc_ts", "value"), right,
                         right_cols=["hour_avg"],
                         tolerance_sec=ASOF_TOLERANCE_S), p("asof"))


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress]


def _watermark_unix(progress: list[dict]) -> int:
    wm = progress[-1].get("eventTime", {}).get("watermark")
    return int(dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
               .replace(tzinfo=dt.timezone.utc).timestamp())


def incremental_pass(spark, tr, spec: Spec, dirs: Dirs, meta: dict) -> dict:
    from pyspark.sql import functions as F
    from pyrate_spark.operators.extract import extract_series
    from pyrate_spark.operators.rollup import tier_rollup
    from pyrate_spark.plans import snapshots
    from pyrate_spark.plans.backfill import (DAY_COL, append_late,
                                             write_raw_store)
    from pyrate_spark.plans.retention import (compact_day_store,
                                              expire_day_store)
    from pyrate_spark.streaming.tiers import (read_pages_stream,
                                              streaming_series_rollup)
    x = spec.extra
    src = dirs.fresh("stream", "source")
    os.makedirs(src)
    ckpt = dirs.fresh("stream", "checkpoint")
    store = dirs.fresh("stores", "tiers")
    raw = dirs.fresh("stores", "raw")
    lo_url, hi_url = READ_URL_RANGE
    out = {"deltas": [], "captures": {}}
    cap = out["captures"]

    def series_of(name):
        pages = spark.read.parquet(os.path.join(dirs.inputs, name))
        return extract_series(pages, cluster_by_url=False).select(
            "url", "warc_ts", "value")

    def sink(batch, _epoch):
        rows = batch.persist()
        if not rows.isEmpty():
            t0 = time.perf_counter()
            snapshots.commit_snapshot(rows, store)
            tr.count("snapshots.commit_s", time.perf_counter() - t0)
        rows.unpersist()

    def url_range(df):
        return df.where((F.col("url") >= lo_url) & (F.col("url") < hi_url))

    for i, name in enumerate(meta["slices"]):
        for f in sorted(os.listdir(os.path.join(dirs.inputs, name))):
            os.link(os.path.join(dirs.inputs, name, f),
                    os.path.join(src, f))
        landed = time.perf_counter()
        with tr.span("streaming"):
            tiers = streaming_series_rollup(
                extract_series(read_pages_stream(spark, src)),
                "1 hour", watermark=WATERMARK)
            q = (tiers.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()
        fresh = time.perf_counter() - landed
        prog = _progress(q)
        tr.stream(prog)
        version = snapshots.latest_version(store)
        delta = {"slice": name, "freshness_s": fresh,
                 "watermark": _watermark_unix(prog), "version": version}
        with tr.span("backfill.raw_append"):
            write_raw_store(series_of(name), raw,
                            mode="overwrite" if i == 0 else "append")
        with tr.untimed():
            cap[f"latest@{name}"] = snapshots.read_snapshot(
                spark, store).toArrow()
        if i > 0:
            t_read = time.perf_counter()
            with tr.span("snapshots.read_latest"):
                delta["read_latest"] = url_range(
                    snapshots.read_snapshot(spark, store)).toArrow()
            with tr.span("snapshots.read_asof"):
                delta["read_asof"] = url_range(snapshots.read_snapshot(
                    spark, store, version - 1)).toArrow()
            delta["read_s"] = time.perf_counter() - t_read
        out["deltas"].append(delta)

    with tr.span("backfill.raw_append"):
        late = series_of("late")
        append_late(late, raw)
    with tr.span("snapshots.merge"):
        days = [r[0] for r in late.select(F.to_date("warc_ts"))
                .distinct().collect()]
        affected = (spark.read.parquet(raw)
                    .where(F.col(DAY_COL).isin(days)).drop(DAY_COL))
        m = snapshots.merge_snapshot(tier_rollup(affected, "1 hour"), store)
    tr.count("snapshots.dirs_rewritten", m["properties"]["rewrote_dirs"])
    with tr.untimed():
        cap["latest@late"] = snapshots.read_snapshot(spark, store).toArrow()
        cap["files_before_compaction"] = _raw_files(raw)
        cap["rows_before_compaction"] = _raw_rows(raw)
    now = dt.datetime.fromtimestamp(meta["end_unix"] - 1,
                                    dt.timezone.utc).replace(tzinfo=None)
    t_compact = time.perf_counter()
    with tr.span("retention.compact"):
        res = compact_day_store(spark, raw,
                                max_files_per_day=x["max_files_per_day"],
                                min_age_days=None, now_ts=now)
    out["compaction_s"] = time.perf_counter() - t_compact
    out["compacted"] = res
    with tr.untimed():
        cap["files_after_compaction"] = _raw_files(raw)
        cap["rows_after_compaction"] = _raw_rows(raw)
    with tr.span("retention.expire"):
        out["expired"] = expire_day_store(spark, raw, x["keep_days"], now)
    with tr.span("snapshots.expire"):
        out["expired_snapshots"] = snapshots.expire_snapshots(store,
                                                              keep_last=2)
    with tr.untimed():
        cap["files_after_expiry"] = _raw_files(raw)
        cap["rows_after_expiry"] = _raw_rows(raw)
        cap["latest@end"] = snapshots.read_snapshot(spark, store).toArrow()
        cap["manifests"] = len(snapshots.list_snapshots(store))
    out.update(raw=raw, store=store, late_days=[str(d) for d in days],
               now=now.isoformat())
    return out


def _raw_files(raw: str) -> dict:
    """{day: [(file, bytes), ...]} of the day store's data files."""
    files = {}
    for part in sorted(os.listdir(raw)):
        if not part.startswith("_day="):
            continue
        d = os.path.join(raw, part)
        files[part.split("=", 1)[1]] = sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet"))
    return files


def _raw_rows(raw: str) -> pa.Table:
    """Every row of the day store with its day, read straight from the
    data files."""
    parts = []
    for day, files in _raw_files(raw).items():
        for f, _size in files:
            t = pq.read_table(os.path.join(raw, f"_day={day}", f))
            parts.append(t.select(["url", "warc_ts", "value"]).append_column(
                "day", pa.array([day] * t.num_rows, pa.string())))
    return pa.concat_tables(parts, promote_options="permissive")


PASSES = {"batch_skewed": batch_pass,
          "incremental_maintenance": incremental_pass}
