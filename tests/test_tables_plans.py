"""Physical-plan assertions: bucketed tables remove shuffles; filters
and projections reach the parquet scan (pushdown/pruning)."""

import re

import pytest
from pyspark.sql import functions as F

from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.sources.tables import (exchange_count, read_table,
                                         write_bucketed)


@pytest.fixture(scope="module")
def bucketed(spark):
    import shutil
    s = extract_series(generate_pages(spark, n_urls=40, epochs_per_url=20,
                                      seed=9))
    spark.sql("DROP TABLE IF EXISTS series_b")
    # in-memory catalog forgets tables between sessions but the
    # warehouse dir persists: clear the stale location too
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    shutil.rmtree(f"{wh}/series_b", ignore_errors=True)
    write_bucketed(s, "series_b", n_buckets=8)
    return read_table(spark, "series_b")


def test_bucketed_groupby_has_no_exchange(spark, bucketed):
    agg = bucketed.groupBy("url").agg(F.avg("value"))
    assert exchange_count(agg) == 0
    # sanity: the same agg on a plain (non-bucketed) frame DOES shuffle
    plain = bucketed.localCheckpoint() if False else None
    s = extract_series(generate_pages(spark, n_urls=40, epochs_per_url=20,
                                      seed=9))
    assert exchange_count(s.groupBy("url").agg(F.avg("value"))) >= 1


def test_bucketed_self_join_is_colocated(spark, bucketed):
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    j = a.join(b, "url")
    assert exchange_count(j) == 0


def test_filter_and_projection_pushdown(spark, tmp_path):
    path = str(tmp_path / "pages")
    generate_pages(spark, n_urls=30, epochs_per_url=10,
                   seed=3).write.parquet(path)
    df = (spark.read.parquet(path)
          .where(F.col("lang") == "en")
          .select("url", "lang"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the fat html binary never reaches the scan output
    assert "html" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_broadcast_join_for_small_dim(spark):
    s = extract_series(generate_pages(spark, n_urls=30, epochs_per_url=10,
                                      seed=3))
    dim = spark.createDataFrame([("en", 1)], "lang string, prio int")
    j = s.join(F.broadcast(dim), "lang")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_gapfill_single_exchange(spark):
    """T17: grid join + LOCF window reuse ONE url-clustered exchange
    (plus the rollup's own aggregate exchange upstream)."""
    from pyrate_spark.operators.rollup import tier_rollup, gapfill_tier
    s = extract_series(generate_pages(spark, n_urls=30, epochs_per_url=10,
                                      seed=3))
    h = tier_rollup(s, "1 hour", 0.5).localCheckpoint()
    g = gapfill_tier(h, "1 hour")
    # from the materialised tier, the whole fill costs <= 2 exchanges
    # (grid side + tier side hash on url); the window adds none
    assert exchange_count(g) <= 2


def test_grouped_kernel_single_user_repartition(spark):
    """The grouped-map path shuffles ONCE (the user repartition on
    _bucket); the groupBy reuses that clustering."""
    from pyrate_spark.operators.grouped import timeseries_per_url
    from pyrate_spark.operators.pairs import sequential_pairs
    from pyrate_spark.config import EngineConfig
    s = extract_series(generate_pages(spark, n_urls=30, epochs_per_url=10,
                                      seed=3))
    p = sequential_pairs(s).localCheckpoint()
    ts = timeseries_per_url(p, EngineConfig(salt_buckets=16),
                            use_mst=False, detect_hot=False)
    assert exchange_count(ts) == 1


def test_knn_query_side_broadcasts(spark):
    from pyrate_spark.operators.similarity import cosine_topk
    emb = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 7) for j in range(4)], 0)
         for i in range(50)],
        "vec_id long, embedding array<double>, label int")
    out = cosine_topk(emb, [0, 1], k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_write_tier_ranged_clusters_files(spark, tmp_path):
    """Range layout: each parquet file covers a contiguous url range
    (boundary url may straddle two files), so min/max stats can prune
    url and time-range scans."""
    from pyrate_spark.operators.rollup import tier_rollup
    from pyrate_spark.sources.tables import write_tier_ranged
    s = extract_series(generate_pages(spark, n_urls=60, epochs_per_url=20,
                                      seed=4))
    h = tier_rollup(s, "1 hour", 0.5)
    out = str(tmp_path / "tier")
    write_tier_ranged(h, out, n_files=6)
    got = (spark.read.parquet(out)
           .groupBy(F.input_file_name().alias("f"))
           .agg(F.min("url").alias("lo"), F.max("url").alias("hi"))
           .collect())
    assert len(got) > 1
    spans = sorted([(r["lo"], r["hi"]) for r in got])
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2          # contiguous, non-interleaved ranges


def test_lookup_select_centre_arithmetic(spark):
    """S10 centre-sample selection matches the reference's index rule
    (gamma.py:565-577) for even AND odd look factors."""
    import numpy as np
    from pyrate_spark.operators.lookup import lookup_table_select
    rows = [(y, x, float(100 * y + x))
            for y in range(12) for x in range(12)]
    lt = spark.createDataFrame(rows, "y long, x long, az double")
    # odd x factor (3, xmin=2 -> start 3), even y factor (2, ymin=1 -> 1)
    sel = (lookup_table_select(lt, xlooks=3, ylooks=2,
                               xmin=2, xmax=11, ymin=1, ymax=10)
           .orderBy("out_y", "out_x").collect())
    idx_x = np.arange(3, 11, 3)           # reference arange(start, max, looks)
    idx_y = np.arange(1, 10, 2)
    n_x, n_y = (11 - 2) // 3, (10 - 1) // 2
    want = [(oy, ox, float(100 * y + x))
            for oy, y in enumerate(idx_y[:n_y])
            for ox, x in enumerate(idx_x[:n_x])]
    got = [(r["out_y"], r["out_x"], r["az"]) for r in sel]
    assert got == want


def test_lookup_join_broadcasts(spark):
    from pyrate_spark.operators.lookup import (lookup_join,
                                               lookup_table_select,
                                               multilook_tiles)
    rows = [(y, x, float(y + x)) for y in range(10) for x in range(10)]
    cells = spark.createDataFrame(rows, "y long, x long, value double")
    lt = cells.groupBy("y", "x").agg(F.avg("value").alias("az"))
    sel = lookup_table_select(lt, 2, 2, 0, 8, 0, 8)
    tiles = multilook_tiles(cells, 2, 2, 0, 8, 0, 8)
    j = lookup_join(tiles, sel)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert j.count() == 16


def test_cohort_lowpass_fft_joinback_broadcasts(spark):
    """T12 spectral path: the per-bucket lp frame (calendar-bounded,
    tiny vs the row side) must come back via a broadcast join under
    AQE, and the grouped-map side must keep its explicit repartition
    (no AQE coalescing of the compute stage)."""
    from pyrate_spark.operators.corrections import cohort_lowpass_fft
    s = extract_series(generate_pages(spark, n_urls=60, epochs_per_url=24,
                                      seed=11))
    out = cohort_lowpass_fft(s, bucket_seconds=3600, cutoff_days=0.2)
    out.count()  # materialize so AQE finalizes the join strategy
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    # the grouped-map stage runs over the explicit cohort repartition
    assert "MapInPandas" in plan
    n = spark.conf.get("spark.sql.shuffle.partitions")
    assert re.search(
        rf"hashpartitioning\(_cohort#\d+, {n}\), REPARTITION_BY_NUM", plan)
    assert "_bucket" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time python


def test_rate_grid_no_single_partition_exchange(spark):
    """r5: the quicklook preview layout must not funnel every per-key
    rate through one task — the global rank comes from range
    partitions + broadcast offsets, so the plan has no SinglePartition
    exchange and the offset join broadcasts."""
    from pyrate_spark.operators.quicklook import rate_grid
    per = spark.range(500).select(
        F.format_string("u%05d", F.col("id")).alias("url"),
        (F.col("id") * 1.0).alias("rate"))
    grid = rate_grid(per, width=16, partitions=8)
    grid.count()  # let AQE finalize strategies
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    # and the layout is the same row-major-by-sorted-key contract
    rows = {r["url"]: (r["y"], r["x"]) for r in grid.collect()}
    assert rows["u00000"] == (0, 0)
    assert rows["u00017"] == (1, 1)
    assert rows["u00499"] == (31, 3)
    # the preview contract is enforced by the function, not the caller
    with pytest.raises(ValueError, match="max_pixels"):
        rate_grid(per, width=16, max_pixels=100).count()


def test_mergeable_aggs_single_exchange(spark):
    """OHLC and histogram tiers are each ONE hash aggregation: one
    Exchange from raw, partial aggregation map-side, no window, no
    Python; their cascades likewise shuffle once from the tier."""
    from pyrate_spark.operators.rollup import (histogram_cascade,
                                               histogram_rollup,
                                               ohlc_cascade, ohlc_rollup)
    s = extract_series(generate_pages(spark, n_urls=20, epochs_per_url=10,
                                      seed=4))
    oh = ohlc_rollup(s, "1 hour")
    hh = histogram_rollup(s, "1 hour", lo=0.0, hi=10.0, n_bins=4)
    assert exchange_count(oh) == 1
    assert exchange_count(hh) == 1
    for df in (oh, hh):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "Python" not in plan
        assert "partial" in plan.lower()     # map-side combine present
    assert exchange_count(ohlc_cascade(oh.localCheckpoint(), "1 day")) == 1
    assert exchange_count(histogram_cascade(hh.localCheckpoint(), "1 day",
                                            n_bins=4)) == 1


def test_distinct_tier_single_exchange(spark):
    """The HLL distinct tier is one ObjectHashAggregate pass: one
    Exchange from raw with map-side partial sketches, no window, no
    Python; the union cascade likewise shuffles once from the tier."""
    from pyrate_spark.operators.rollup import (distinct_cascade,
                                               distinct_tier)
    s = extract_series(generate_pages(spark, n_urls=20, epochs_per_url=10,
                                      seed=4))
    dh = distinct_tier(s, "1 hour")
    assert exchange_count(dh) == 1
    plan = dh._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Python" not in plan
    assert "partial" in plan.lower()
    assert exchange_count(distinct_cascade(dh.localCheckpoint(),
                                           "1 day")) == 1
