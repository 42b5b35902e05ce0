"""Retention policy: partition-drop expiry is metadata-only and agrees
with the logical surviving() view."""

import datetime as dt

from pyspark.sql import functions as F

from pyrate_spark.plans.backfill import write_raw_store
from pyrate_spark.plans.retention import (expire_day_store,
                                          policy_cutoff_day, surviving)

BASE = dt.datetime(2024, 3, 1, 6, 30)


def _series(spark, days=6, per_day=4):
    rows = [(f"u{k}", BASE + dt.timedelta(days=d, hours=3 * k),
             float(d * 10 + k))
            for d in range(days) for k in range(per_day)]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double")


def test_cutoff_day_math():
    now = dt.datetime(2024, 3, 6, 17, 45)
    assert policy_cutoff_day(now, 1) == "2024-03-06"   # today only
    assert policy_cutoff_day(now, 3) == "2024-03-04"
    assert policy_cutoff_day(now, None) is None


def test_expire_day_store_drops_partitions(spark, tmp_path):
    path = str(tmp_path / "rawstore")
    s = _series(spark)
    write_raw_store(s, path)
    now = BASE + dt.timedelta(days=5)                  # newest datum day
    res = expire_day_store(spark, path, keep_days=2, now_ts=now)
    assert res["cutoff_day"] == "2024-03-05"
    assert res["dropped"] == ["2024-03-01", "2024-03-02", "2024-03-03",
                              "2024-03-04"]
    assert res["kept"] == ["2024-03-05", "2024-03-06"]
    # what remains on disk == the logical surviving() view of the input
    left = spark.read.parquet(path)
    want = surviving(s, 2, now)
    assert left.count() == want.count() == 8
    assert (left.agg(F.sum("value")).first()[0]
            == want.agg(F.sum("value")).first()[0])


def test_surviving_is_prunable_predicate(spark, tmp_path):
    """The logical view's day predicate reaches the scan as a
    partition filter on the day-partitioned store."""
    path = str(tmp_path / "rawstore2")
    write_raw_store(_series(spark), path)
    df = spark.read.parquet(path)
    now = BASE + dt.timedelta(days=5)
    plan = (surviving(df, 2, now)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan
    assert surviving(df, None, now).count() == df.count()


def test_compact_day_store_merges_small_files(spark, tmp_path):
    """Streaming-append fragmentation: a day partition with many tiny
    files is rewritten to few files atomically; data identical; recent
    days behind min_age stay untouched."""
    from pyrate_spark.plans.retention import compact_day_store
    path = str(tmp_path / "store")
    base = dt.datetime(2024, 3, 1)
    # 8 separate appends -> >= 8 files in each day partition
    for k in range(8):
        rows = [("u%d" % i, base + dt.timedelta(days=d, hours=k),
                 float(k * 100 + i))
                for i in range(5) for d in range(3)]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, value double")
        write_raw_store(df, path, mode="append")
    before = (spark.read.parquet(path)
              .orderBy("url", "warc_ts").toPandas())

    res = compact_day_store(spark, path, max_files_per_day=4,
                            min_age_days=1,
                            now_ts=base + dt.timedelta(days=2))
    # day 2 is inside min_age (the write frontier) -> skipped
    assert "2024-03-03" in res["skipped"]
    assert set(res["compacted"]) == {"2024-03-01", "2024-03-02"}
    for day, (nb, na) in res["compacted"].items():
        assert nb >= 8 and na < nb and na >= 1
    after = (spark.read.parquet(path)
             .orderBy("url", "warc_ts").toPandas())
    assert before.equals(after)
    # with the default frontier (1 day behind wall-clock now), the
    # previously-skipped 2024 day is well behind it and compacts too
    res2 = compact_day_store(spark, path, max_files_per_day=4)
    assert set(res2["compacted"]) == {"2024-03-03"}
    # and a further run is a no-op: everything already under threshold
    res3 = compact_day_store(spark, path, max_files_per_day=4)
    assert res3["compacted"] == {}
    assert spark.read.parquet(path).count() == len(before)


def test_compact_day_store_aborts_on_racing_append(spark, tmp_path,
                                                   monkeypatch):
    """A file appended between the read snapshot and the swap must not
    be lost: the pass re-lists the partition after the rewrite and
    aborts that day's swap (tmp removed, every row — including the
    racer — still readable)."""
    import pyrate_spark.plans.retention as ret
    path = str(tmp_path / "store")
    base = dt.datetime(2024, 3, 1)
    for k in range(8):
        df = spark.createDataFrame(
            [("u%d" % i, base + dt.timedelta(hours=k), float(k * 10 + i))
             for i in range(4)],
            "url string, warc_ts timestamp, value double")
        write_raw_store(df, path, mode="append")

    racer = spark.createDataFrame(
        [("racer", base + dt.timedelta(hours=23), 999.0)],
        "url string, warc_ts timestamp, value double")
    real_rewrite = ret._rewrite_partition

    def rewrite_then_race(spark_, part_dir, tmp_dir, n_out,
                          **kwargs):
        real_rewrite(spark_, part_dir, tmp_dir, n_out, **kwargs)
        write_raw_store(racer, path, mode="append")

    monkeypatch.setattr(ret, "_rewrite_partition", rewrite_then_race)
    res = ret.compact_day_store(spark, path, max_files_per_day=4,
                                min_age_days=None)
    assert res["aborted"] == ["2024-03-01"]
    assert res["compacted"] == {}
    after = spark.read.parquet(path)
    assert after.count() == 8 * 4 + 1
    assert after.where("url = 'racer'").count() == 1
    # no stray tmp dirs visible to readers, and a follow-up clean pass
    # (no racer this time) compacts normally
    monkeypatch.setattr(ret, "_rewrite_partition", real_rewrite)
    res2 = ret.compact_day_store(spark, path, max_files_per_day=4,
                                 min_age_days=None)
    assert "2024-03-01" in res2["compacted"]
    assert spark.read.parquet(path).count() == 8 * 4 + 1


def test_compact_day_store_crash_leftover_recovery(spark, tmp_path):
    """A crash between rename-in and delete-old leaves a dot-prefixed
    .compact_old_* dir: Spark readers ignore it, and the next
    maintenance pass clears it and proceeds."""
    import pathlib
    import shutil
    from pyrate_spark.plans.retention import compact_day_store
    path = str(tmp_path / "store")
    base = dt.datetime(2024, 3, 1)
    for k in range(8):
        df = spark.createDataFrame(
            [("u%d" % i, base + dt.timedelta(hours=k), float(k * 10 + i))
             for i in range(4)],
            "url string, warc_ts timestamp, value double")
        write_raw_store(df, path, mode="append")
    # simulate the post-crash state: stale old-copy next to the live dir
    live = next(p for p in pathlib.Path(path).iterdir()
                if p.name.startswith("_day="))
    shutil.copytree(live, pathlib.Path(path) / f".compact_old_{live.name}")
    assert spark.read.parquet(path).count() == 8 * 4  # dot-dir ignored
    res = compact_day_store(spark, path, max_files_per_day=4,
                            min_age_days=None)
    assert live.name.split("=", 1)[1] in res["compacted"]
    assert spark.read.parquet(path).count() == 8 * 4
    assert not any(p.name.startswith(".compact_")
                   for p in pathlib.Path(path).iterdir())


def test_compact_day_store_keeps_a_days_extra_column(spark, tmp_path):
    """Schema drift: one day's files carry a column the others lack,
    and another day gains it half-way through its appends. Each day is
    rewritten with its own files' columns, so the extra column survives
    compaction and the day without it gains none."""
    import pathlib
    from pyrate_spark.plans.retention import compact_day_store
    path = str(tmp_path / "store")
    base = dt.datetime(2024, 3, 1)
    for d in range(3):
        for k in range(6):
            extra = d == 1 or (d == 2 and k >= 3)
            rows = [("u%d" % i, base + dt.timedelta(days=d, hours=k),
                     float(k * 10 + i)) + (("ok%d" % i,) if extra else ())
                    for i in range(3)]
            ddl = "url string, warc_ts timestamp, value double" + (
                ", status string" if extra else "")
            write_raw_store(spark.createDataFrame(rows, ddl), path,
                            mode="append")
    days = sorted(p for p in pathlib.Path(path).iterdir()
                  if p.name.startswith("_day="))

    def snapshot():
        return {p.name: spark.read.option("mergeSchema", "true")
                .parquet(str(p)).orderBy("url", "warc_ts").toPandas()
                for p in days}

    before = snapshot()
    assert [("status" in before[p.name].columns) for p in days] == [
        False, True, True]
    res = compact_day_store(spark, path, max_files_per_day=4,
                            min_age_days=None)
    assert len(res["compacted"]) == 3
    after = snapshot()
    for name, pdf in before.items():
        assert list(after[name].columns) == list(pdf.columns), name
        assert after[name].equals(pdf), name
