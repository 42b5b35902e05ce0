"""Tiered retention policy — the "retention" leg of the rollup +
downsample + retention engine (BASELINE.json north rule;
drop-chunks-style semantics recast as partition planning).

At 10^12 rows, expiry must be a METADATA operation: the raw store is
day-partitioned (plans/backfill.write_raw_store), so expiring to
``keep_days`` means dropping whole day partitions older than the
cutoff — no data scan, no rewrite (the Iceberg drop-partition /
expire-snapshot equivalent). Row-level filtering is only the logical
view (``surviving`` — a partition-prunable predicate).

The reference has no retention analog (products are recomputed per
run, conv2tif/prepifg outputs accumulate); retention is the web-scale
graft's own requirement.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyrate_spark.plans.backfill import DAY_COL

DAY_SECONDS = 86400


def policy_cutoff_day(now_ts: dt.datetime, keep_days: int | None) -> str | None:
    """UTC day string below which partitions expire: the newest
    ``keep_days`` whole day partitions (including today's partial one)
    survive. None keeps everything."""
    if keep_days is None:
        return None
    day0 = dt.datetime(now_ts.year, now_ts.month, now_ts.day)
    return (day0 - dt.timedelta(days=keep_days - 1)).strftime("%Y-%m-%d")


def surviving(df: DataFrame, keep_days: int | None, now_ts: dt.datetime,
              ts_col: str = "warc_ts") -> DataFrame:
    """Logical retention view: rows on or after the cutoff day. The
    predicate is on the day of ``ts_col`` so it partition-prunes on a
    day-partitioned store."""
    cut = policy_cutoff_day(now_ts, keep_days)
    if cut is None:
        return df
    return df.where(F.date_trunc("day", F.col(ts_col))
                    >= F.lit(f"{cut} 00:00:00").cast("timestamp"))


def _rewrite_partition(spark: SparkSession, part_dir: str, tmp_dir: str,
                       n_out: int, schema=None) -> None:
    """Rewrite one partition's files into ``n_out`` files at a sibling
    tmp path (module-level so tests can wrap it to simulate a racing
    append landing mid-rewrite).

    ``coalesce`` not ``repartition`` (r8): compaction only needs to
    MERGE small files, and coalesce does that with zero shuffle — no
    hash partitioning, no round-robin pre-sort (repartition(n) pays a
    local sort per task, SPARK-23207), each output task just reads a
    share of the input splits sequentially. Output file sizes are as
    even as the input split packing, which is all a small-file
    compactor needs; row content is identical either way.

    ``schema`` (r8): per-day schema inference launches its own
    footer-reading Spark job per rewrite; the sweep infers once from
    the first candidate and threads it through — the per-day jobs
    then submit without an inference round-trip. ``None`` (a day whose
    footers differ from the shared schema) merges the day's own file
    schemas, so no file's column is dropped."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("mergeSchema", "true")
    (reader.parquet(part_dir).coalesce(n_out)
     .write.mode("overwrite").parquet(tmp_dir))


def compact_day_store(spark: SparkSession, path: str,
                      max_files_per_day: int = 4,
                      target_bytes: int = 128 * 1024 * 1024,
                      min_age_days: int | None = 1,
                      now_ts: dt.datetime | None = None,
                      max_concurrency: int = 16) -> dict:
    """Small-file compaction for a day-partitioned store — the ops
    counterpart of streaming append: every availableNow maintenance
    pass appends files, and at 10^12 rows a day partition accumulating
    hundreds of tiny parquet files destroys scan planning (footer
    reads, task churn). For each day partition with more than
    ``max_files_per_day`` data files, rewrite it to
    ceil(bytes / target_bytes) files and swap via rename-first
    ordering (write to a sibling tmp dir, rename the live partition
    aside, rename tmp in, then delete the old copy — the Iceberg
    rewrite-datafiles equivalent; there is never a moment where the
    partition path is absent, and a crash mid-swap leaves either the
    old or the new copy live, plus at worst a dot-prefixed leftover
    that Spark readers ignore). ``min_age_days`` (default 1: compact
    only partitions at least one whole day behind ``now_ts``) keeps
    the rewrite behind the write frontier so concurrent streaming
    appends land on days this pass never touches; pass ``None``
    explicitly to compact everything — in that case, and as a belt
    against misconfigured frontiers, the partition is re-listed after
    the rewrite and the swap is ABORTED (tmp deleted, old kept) if
    files appeared since the read snapshot, so a racing append is
    never silently dropped. Partition listing is metadata; only
    over-fragmented days are read.

    Day partitions are independent, so up to ``max_concurrency``
    rewrites run as concurrent Spark jobs (driver threads — the
    standard multi-job submission pattern); at 10^12 rows a
    maintenance pass touches many days and serial per-day jobs leave
    the cluster idle between them. Default raised 4 -> 16 (r8): each
    per-day rewrite is dominated by job submission + file-commit
    latency, not compute (the r8 coalesce removed the shuffle), so
    deeper overlap back-fills those latencies (measured on the bench
    store: 13 days compact in 3.06 / 2.63 / 2.16 s at concurrency
    4 / 8 / 16); 16 concurrent tiny jobs is still far below scheduler
    contention on any target cluster.

    Returns {"compacted": {day: (files_before, files_after)},
    "skipped": [days], "aborted": [days]}.
    """
    from concurrent.futures import ThreadPoolExecutor
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    base = hpath(path)
    fs = base.getFileSystem(conf)
    frontier = None
    if min_age_days is not None:
        now_ts = now_ts or dt.datetime.utcnow()
        frontier = policy_cutoff_day(now_ts, min_age_days)

    def _data_files(p):
        return [f for f in fs.listStatus(p)
                if f.getPath().getName().endswith(".parquet")]

    compacted, skipped, aborted = {}, [], []
    candidates = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not name.startswith(f"{DAY_COL}="):
            continue
        day = name.split("=", 1)[1]
        if frontier is not None and day >= frontier:
            skipped.append(day)
            continue
        files = _data_files(st.getPath())
        if len(files) <= max_files_per_day:
            skipped.append(day)
            continue
        candidates.append((day, name, st.getPath(), files))

    shared_schema, same_schema = None, []
    if candidates:
        # one schema inference for the whole sweep (see
        # _rewrite_partition): day partitions of one store share it,
        # unless the schema drifted. Each day reuses it only if all its
        # files' footers hold the first candidate's one schema; the
        # footers of every candidate file come from one parallel
        # metadata read in the JVM (no data page, no Spark job), in the
        # order the files are passed.
        shared_schema = spark.read.parquet(
            f"{path}/{candidates[0][1]}").schema
        footers = jvm.org.apache.parquet.hadoop.ParquetFileReader \
            .readAllFootersInParallel(
                conf, [f for c in candidates for f in c[3]], True)
        schemas = iter([f.getParquetMetadata().getFileMetaData()
                        .getSchema().toString() for f in footers])
        per_day = [{next(schemas) for _ in c[3]} for c in candidates]
        same_schema = [len(per_day[0]) == 1 and d == per_day[0]
                       for d in per_day]

    def compact_one(cand, same):
        day, name, live_path, files = cand
        snapshot = {f.getPath().getName() for f in files}
        nbytes = sum(f.getLen() for f in files)
        n_out = max(1, -(-nbytes // target_bytes))
        part_dir = f"{path}/{name}"
        tmp_dir = f"{path}/.compact_tmp_{name}"
        old_dir = f"{path}/.compact_old_{name}"
        _rewrite_partition(spark, part_dir, tmp_dir, n_out,
                           schema=shared_schema if same else None)
        # A file appended between the read snapshot and the swap would
        # be lost by the rewrite — abort this day rather than drop it.
        now_names = {f.getPath().getName() for f in _data_files(live_path)}
        if now_names - snapshot:
            fs.delete(hpath(tmp_dir), True)
            return day, None
        # Rename-first swap: the live partition path is replaced, never
        # absent. Crash after step 1 → readers miss one partition until
        # the next pass re-runs; crash after step 2 → fully swapped
        # with a stale .compact_old_* to clean up; Spark readers ignore
        # dot-prefixed dirs in every intermediate state.
        fs.delete(hpath(old_dir), True)
        if not fs.rename(live_path, hpath(old_dir)):
            raise IOError(f"compaction rename-aside failed for {part_dir}")
        if not fs.rename(hpath(tmp_dir), live_path):
            # Roll the old copy back so the partition is not left absent.
            fs.rename(hpath(old_dir), live_path)
            raise IOError(f"compaction rename-in failed for {part_dir}")
        fs.delete(hpath(old_dir), True)
        return day, (len(files), len(_data_files(live_path)))

    if candidates:
        with ThreadPoolExecutor(
                max_workers=max(1, min(max_concurrency,
                                       len(candidates)))) as pool:
            for day, result in pool.map(compact_one, candidates,
                                        same_schema):
                if result is None:
                    aborted.append(day)
                else:
                    compacted[day] = result
    return {"compacted": compacted, "skipped": sorted(skipped),
            "aborted": sorted(aborted)}


def expire_day_store(spark: SparkSession, path: str, keep_days: int,
                     now_ts: dt.datetime) -> dict:
    """Physically expire a day-partitioned store: list the day
    partitions (directory names — a metadata read), drop those older
    than the cutoff via the Hadoop FS API, keep the rest untouched.
    Returns {"cutoff_day", "dropped": [...], "kept": [...]}. No data
    file is read or rewritten."""
    cut = policy_cutoff_day(now_ts, keep_days)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    base = hpath(path)
    fs = base.getFileSystem(conf)
    dropped, kept = [], []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not name.startswith(f"{DAY_COL}="):
            continue
        day = name.split("=", 1)[1]
        if day < cut:
            fs.delete(st.getPath(), True)
            dropped.append(day)
        else:
            kept.append(day)
    return {"cutoff_day": cut, "dropped": sorted(dropped),
            "kept": sorted(kept)}
