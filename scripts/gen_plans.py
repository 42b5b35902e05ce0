"""Generate docs/PLANS.md: formatted physical plans of the engine's key
operators with the properties that matter at 100 TB annotated."""
import io, sys
from contextlib import redirect_stdout
from pyspark.sql import functions as F
from pyrate_spark.session import get_session
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.pairs import network_pairs, sequential_pairs
from pyrate_spark.operators.rollup import tier_rollup, cascade_rollup, gapfill_tier
from pyrate_spark.operators.grouped import timeseries_per_url
from pyrate_spark.sources.tables import write_bucketed, read_table
from pyrate_spark.config import EngineConfig
import shutil

spark = get_session("plans", parallelism=4, shuffle_partitions=8)
pages_path = "/tmp/plans_pages"
generate_pages(spark, n_urls=50, epochs_per_url=24, seed=1).write.mode("overwrite").parquet(pages_path)
pages = spark.read.parquet(pages_path)
series = extract_series(pages)

def plan_of(df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    # keep it readable: drop the (N) node-detail exposition after first blank-blank
    head, _, detail = s.partition("\n\n")
    keep = [head]
    # include scan details (PushedFilters/ReadSchema) from the detail section
    for block in detail.split("\n\n"):
        if "Scan parquet" in block or "PushedFilters" in block:
            keep.append(block)
    return "\n\n".join(keep)

sections = []
def add(title, note, df):
    sections.append((title, note, plan_of(df)))

add("Series extraction (scan projection)",
    "The fat `html` binary never leaves the scan: ReadSchema carries only "
    "url/warc_ts/text/lang. A filter on lang would land in PushedFilters.",
    series.where(F.col("lang") == "en").select("url", "warc_ts", "value"))

add("Hourly tier rollup (D1)",
    "ONE hash aggregate: mean, null-fraction and count fused in a single "
    "shuffle on (url, window) — the reference's 2-band gdal trick "
    "(gdal_python.py:296-324) as a plain partial+final HashAggregate.",
    tier_rollup(series, "1 hour", 0.5))

h = tier_rollup(series, "1 hour", 0.5)
add("Hour -> day cascade",
    "The daily tier aggregates the hourly tier (weighted), never raw data: "
    "at 100 TB this is the difference between one scan per tier and one "
    "scan total.",
    cascade_rollup(h, "1 day"))

add("Pair network (J5 k-lead window, join-free)",
    "r7 default: the k nearest FORWARD neighbours within the span are "
    "exactly the next k rows in per-url timestamp order, so the whole "
    "construction is k lead() shifts over ONE per-url ordered window — "
    "one Exchange, no join, O(rows x k) instead of the range self-join's "
    "rows x (span/step) candidate intermediate (72x fan-out on hourly "
    "data with a 3-day span). The join path survives as via='range_join' "
    "for duplicate-keyed input.",
    network_pairs(series, 2, 3))

add("Pair network (via='range_join', duplicate-keyed fallback)",
    "Both sides hash-shuffle on url once; the range predicate stays in "
    "the join condition; per-epoch fanout cap is a windowed row_number "
    "over the same partitioning (no extra exchange).",
    network_pairs(series, 2, 3, via="range_join"))

add("Per-url inversion (grouped-map kernel)",
    "repartition(N, url) -> MapInPandas, one frame per url partition. "
    "The planner drops the repartition on a url-clustered input (here "
    "the pair window's own exchange); otherwise it is user-specified "
    "with an explicit N, so AQE cannot coalesce the compute-heavy "
    "Python stage below the cluster's parallelism.",
    timeseries_per_url(network_pairs(series, 2, 3),
                       EngineConfig(salt_buckets=64), use_mst=False,
                       detect_hot=False))

from pyrate_spark.operators.grouped import linear_rate_from_pairs
add("Fused pairs -> linear rates (r4 pipeline fusion)",
    "Both inversion stages in ONE MapInArrow over one row per url "
    "(sorted list of its pairs): the per-epoch intermediate never "
    "appears in the plan — at most one user repartition, one Python "
    "stage. "
    "Bit-exact vs the two-stage chain (tests/test_fused_rates.py).",
    linear_rate_from_pairs(network_pairs(series, 2, 3),
                           EngineConfig(salt_buckets=64), use_mst=False,
                           detect_hot=False))

add("Gap-filled grid (T17)",
    "sequence()+explode materialises the grid JVM-side; grid and tier "
    "co-shuffle on url once and the LOCF window reuses that partitioning "
    "— one Exchange for the whole fill.",
    gapfill_tier(tier_rollup(series, "1 hour", 0.5), "1 hour"))

import pandas as _pd
docs_pdf = _pd.DataFrame({
    "doc_id": range(40),
    "text": [f"alpha beta gamma delta {i} {i%7} epsilon" for i in range(40)]})
docs = spark.createDataFrame(docs_pdf)
from pyrate_spark.operators.dedup import minhash_lsh_pairs, jaccard_pairs
add("MinHash LSH near-dup (band-bucket join)",
    "Signatures are k min() aggs in ONE pass over one exploded shingle "
    "set; candidates come from the (band,bucket) equi-self-join — "
    "sub-quadratic; the exact verify touches candidates only.",
    minhash_lsh_pairs(docs, threshold=0.5))

add("DF-capped exact Jaccard (candidate join)",
    "The candidate join excludes tokens with document frequency above "
    "max_df (the stopword quadratic-blowup guard); scores come from the "
    "exact full-set verify on survivors.",
    jaccard_pairs(docs, threshold=0.5, max_df=20))

from pyrate_spark.operators.similarity import lsh_topk_multi
emb = spark.createDataFrame(_pd.DataFrame({
    "vec_id": range(40),
    "embedding": [[float((i * 7 + j) % 13) for j in range(8)]
                  for i in range(40)]}))
add("Multi-table LSH ANN (signature equi-join + rerank)",
    "All L signatures from one matmul per Arrow batch (one ArrowEval "
    "node); the candidate equi-join broadcasts the tiny query side; the "
    "rerank's window reuses the join output partitioning.",
    lsh_topk_multi(emb, [0, 1], k=3, n_tables=4, planes_per_table=4))

from pyrate_spark.operators.corrections import closure_fixpoint, maxvar_full
add("Closure fixpoint (G6, grouped-map)",
    "The iterate-until-stable loop runs INSIDE the kernel (per-key graph "
    "work): one salt + one user repartition + one FlatMapGroupsInPandas, "
    "regardless of how many iterations each key needs.",
    closure_fixpoint(network_pairs(series, 2, 3),
                     EngineConfig(salt_buckets=16)))

add("FFT maxvar (A11, grouped-map)",
    "Per-key regular-grid autocovariance: same single-exchange grouped-map "
    "shape; output is one row per key (tiny), safe to broadcast-join back "
    "onto pairs for vcm_mode='maxvar'.",
    maxvar_full(series, EngineConfig(salt_buckets=16), calc_alpha=False))

add("Embedding-cosine near-dup (brute baseline)",
    "JVM-side zip_with/aggregate dot products; no Python in the loop. "
    "The LSH-bucketed variant replaces the O(n^2) join with the "
    "signature equi-join above at scale.",
    __import__("pyrate_spark.operators.similarity",
               fromlist=["cosine_near_pairs"]).cosine_near_pairs(
        emb, threshold=0.2))

add("Embedding-cosine near-dup (LSH scale path)",
    "The 10^12-row variant: multi-table hyperplane signatures (one "
    "numpy matmul per Arrow batch), candidate = per-table signature "
    "equi-join (the ONLY shuffle keys), exact verify on survivors — "
    "no all-pairs join anywhere in the plan.",
    __import__("pyrate_spark.operators.similarity",
               fromlist=["cosine_near_pairs"]).cosine_near_pairs(
        emb, threshold=0.2, method="lsh"))

from pyrate_spark.operators.corrections import cohort_lowpass_fft
add("Cohort spectral low-pass (T12, FFT grouped-map)",
    "Two-level shape: a tiny per-(cohort, bucket) aggregate feeds ONE "
    "grouped-map whose per-group state is a single time-grid array "
    "(calendar-bounded, not row-bounded); the filtered grid joins back "
    "onto rows where AQE broadcasts the small side.",
    cohort_lowpass_fft(series, EngineConfig(salt_buckets=4),
                       cohort_expr=F.col("lang")))

from pyrate_spark.operators.lookup import (lookup_join,
                                           lookup_table_select,
                                           multilook_tiles)
cells = series.select(
    (F.floor(F.unix_timestamp("warc_ts") / 86400) % 32).alias("y"),
    F.hour("warc_ts").cast("long").alias("x"), "value")
lt_dim = cells.groupBy("y", "x").agg(F.avg("value").alias("az"),
                                     F.count("value").alias("rg"))
add("Lookup-table centre-sample + pairing (S10)",
    "Crop + multilook centre-sampling is pure filter algebra on the "
    "dimension table (no shuffle); the pairing is an explicit "
    "BroadcastHashJoin — the selected lookup is 1/(xlooks*ylooks) of "
    "an already-small dim table at any data scale.",
    lookup_join(multilook_tiles(cells, 3, 2, 0, 18, 0, 24),
                lookup_table_select(lt_dim, 3, 2, 0, 18, 0, 24)))

from pyrate_spark.sources.tables import write_tier_ranged
import glob
write_tier_ranged(tier_rollup(series, "1 hour", 0.5),
                  "/tmp/plans_tier_ranged", n_files=4)
add("Range-layout tier scan (url + time predicate)",
    "repartitionByRange(url, bucket) at write time clusters files on "
    "contiguous key/time ranges, so the scan's parquet min/max stats "
    "prune point-lookups and time slices (PushedFilters below reach "
    "the footer level).",
    spark.read.parquet("/tmp/plans_tier_ranged")
        .where((F.col("url") == "u-000001")
               & (F.col("bucket_start") >= "2024-01-01")))

spark.sql("DROP TABLE IF EXISTS plans_b")
shutil.rmtree("/tmp/pyrate-spark-warehouse/plans_b", ignore_errors=True)
write_bucketed(series, "plans_b", n_buckets=4)
t = read_table(spark, "plans_b")
add("Bucketed-table groupBy (co-located)",
    "No Exchange node: the bucketBy(url) layout satisfies the aggregation's "
    "clustering requirement straight off disk — the Iceberg bucket-transform "
    "plan shape.",
    t.groupBy("url").agg(F.avg("value").alias("avg_value")))

from pyrate_spark.operators.asof import asof_join
hourly_obs = (tier_rollup(series, "1 hour", thresh=0.5)
              .where(F.col("value_avg").isNotNull())
              .select("url", "bucket_start",
                      F.col("value_avg").alias("asof_avg")))
add("As-of join (r5: union + side-bit + one ordered window)",
    "NOT a non-equi range join (that plans as BroadcastNestedLoop and "
    "explodes per key): both sides union on a side bit, ONE Exchange "
    "on url, one sort, last(struct, ignorenulls) carries the latest "
    "right row onto every left row. O(n log n) per partition.",
    asof_join(series, hourly_obs, tolerance_sec=7200))

from pyrate_spark.operators.windows import sessionize, topk_per_bucket
add("Sessionization (session_window)",
    "Native dynamic session merge in one hash aggregate (+ sort for "
    "the merging agg). The same expression runs under Structured "
    "Streaming with watermark state eviction.",
    sessionize(series, gap="30 minutes"))

add("Per-bucket top-k (heavy hitters)",
    "row_number window partitioned by the BUCKET, never the url — "
    "bucket count is bounded by retention while urls are unbounded, "
    "so partitions stay shardable and no single-partition sort "
    "exists.",
    topk_per_bucket(tier_rollup(series, "1 hour", thresh=0.5), k=3))

from pyrate_spark.operators.rollup import counter_rate, ewma_tier
add("Counter delta/rate + EWMA fold",
    "counter_rate: lag windows, one shuffle on url. ewma_tier: "
    "sort_array + aggregate() higher-order fold — the whole recurrence "
    "stays inside WholeStageCodegen, no Python anywhere.",
    ewma_tier(tier_rollup(series, "1 hour", thresh=0.5), alpha=0.3))

from pyrate_spark.operators.anomaly import (anomaly_zscore,
                                            cusum_changepoint,
                                            holt_forecast)
add("Trailing z-score anomaly flags (r5)",
    "ONE Exchange on url feeding a rows-frame Window; frame stats are "
    "aggregate() folds over the collected history — whole-stage "
    "codegen, no Python, no global sort; url is the unbounded "
    "shardable key, the 24-row frame a constant.",
    anomaly_zscore(tier_rollup(series, "1 hour", thresh=0.5),
                   window=24, nsig=2.0))
add("CUSUM + Holt exact folds (r5)",
    "Same shape as the EWMA fold: groupBy url, sort_array'd series, "
    "one O(n) aggregate() running fold, inline(arrays_zip) back to "
    "rows. Per-url state bounded by the tier retention window.",
    holt_forecast(tier_rollup(series, "1 hour", thresh=0.5)))

from pyrate_spark.operators.anomaly import seasonal_baseline
add("Seasonal baseline join-back (r6)",
    "The profile fold runs ONCE per (url, hod) cell inside the hash "
    "aggregate and its two scalars join back to the rows — NO Window "
    "node anywhere (the r5 form buffered the full profile list per "
    "OUTPUT row in an unbounded window frame). The join shuffles on "
    "(url, hod), a key at least as fine as url, so hot-url skew is "
    "diluted 24-ways.",
    seasonal_baseline(tier_rollup(series, "1 hour", thresh=0.5)))

from pyrate_spark.operators.tiersink import encode_tier
add("Gorilla tier encode (r6: partition-per-call)",
    "ONE user-specified hash-by-url Exchange (AQE-coalesce "
    "exempt), then mapInPandas encodes each whole partition in one "
    "UDF call — the codec is row-bound, so call count stays ~2x "
    "cores instead of the grouped-map's hundreds of per-bucket "
    "calls; the Arrow channel carries url + epoch-long ts + value "
    "only (no datetime conversion either side).",
    encode_tier(tier_rollup(series, "1 hour", thresh=0.5)))

from pyrate_spark.operators.metrics import (regression_slope,
                                            time_weighted_avg)
add("Time-weighted average (r6, TimescaleDB time_weight)",
    "ONE Exchange on url for the lead() window, then the segment-to-"
    "bucket explode (sequence bounded by max_gap_sec / bucket) and a "
    "hash aggregation on (url, bucket) — strictly finer than url, so "
    "hot urls dilute. All codegen; the explode fan-out is the only "
    "row-amplifier and is capped by the gap policy.",
    time_weighted_avg(series, 3600, max_gap_sec=86400,
                      value_col="value", ts_col="warc_ts"))
add("Regression slope / deriv (r6, PromQL)",
    "Pure two-phase hash aggregation of the five normal-equation "
    "sums with map-side partials — no window, no sort, no Python; "
    "the cheapest possible shape for a per-bucket fitted metric.",
    regression_slope(series, 3600, value_col="value",
                     ts_col="warc_ts"))

from pyrate_spark.operators.downsample import lttb_downsample
add("LTTB downsample (r6, exact fold)",
    "One Exchange (groupBy url) collects each series once; bucket "
    "anchors and the selection recurrence are higher-order column "
    "algebra over that array — no window, no Python, no second "
    "shuffle; per-url state bounded by the retention window like the "
    "ewma/CUSUM/Holt folds.",
    lttb_downsample(series, 12, value_col="value", ts_col="warc_ts"))

from pyrate_spark.operators.correlate import corr_pairs
add("Cross-series lead-lag correlation (r7)",
    "Candidate top-k is a TakeOrderedAndProject (distributed partial "
    "top-k merged on the driver), NOT a global rank window — at 10^9 "
    "keys a row_number() rank would funnel every key through one "
    "executor. The candidate set then comes back as a BroadcastHashJoin "
    "semi-join (config-sized build side), and the pair fan-out is "
    "bounded at top_keys^2 per bucket before the single Pearson "
    "hash-aggregate (map-side co-moment partials).",
    corr_pairs(tier_rollup(series, "1 hour", 0.5), top_keys=8,
               min_overlap=6, lags=(-1, 0, 1)))

from pyrate_spark.operators.sampling import hash_split
add("Deterministic hash split (r7)",
    "No Exchange at all: the split label is narrow column algebra that "
    "fuses into the scan's WholeStageCodegen span — assigning "
    "train/val/test to 100 TB costs nothing beyond the scan already "
    "being paid, and downstream split predicates push down.",
    hash_split(pages.select(F.abs(F.xxhash64("url")).alias("doc_id"))))

from pyrate_spark.operators.profile import profile_columns
add("Column profiler (r7, single-pass approx)",
    "ONE scan and ONE partial+final HashAggregate row for n columns "
    "(HLL sketches merge map-side); the stack unpivot is a driver-free "
    "projection of the single aggregate row. exact=True swaps HLL for "
    "count_distinct and pays the n-way Expand — the documented gate-"
    "only path.",
    profile_columns(series, cols=["url", "value"]))

docs = spark.createDataFrame(
    [(i, "alpha beta gamma alpha delta") for i in range(50)],
    "doc_id long, text string")

from pyrate_spark.operators.text import (pii_scrub, registrable_domain,
                                         repetition_stats)
add("Registrable-domain canonicalisation (r7)",
    "No Exchange at all: host + registrable-domain extraction is "
    "regex/array column algebra fused into the scan — grouping by the "
    "result is the caller's shuffle, on a fine-grained skew-diluting "
    "key.",
    registrable_domain(
        docs.select("doc_id",
                    F.lit("https://www.ex.co.uk/p").alias("url"))))

add("Gopher repetition filter (r7)",
    "Explode then TWO partial+final hash aggregates — (doc_id, word) "
    "with map-side combine (the shuffle carries distinct pairs, not "
    "raw tokens), then the tiny per-doc rollup. Deliberately NOT the "
    "O(distinct x len) per-row lambda mode; no window, no Python.",
    repetition_stats(docs))

add("PII scrubbing (r7)",
    "No Exchange: regexp_count/regexp_replace chains in one narrow "
    "projection — redacting 100 TB costs only the scan.",
    pii_scrub(docs))

from pyrate_spark.operators.dedup import decontaminate, strip_boilerplate
add("Cross-document boilerplate removal (r7, CCNet-style)",
    "posexplode -> one (span) hash agg for corpus document frequency "
    "-> LEFT ANTI join of spans against the small high-DF drop set "
    "(broadcastable under AQE; the frac threshold flows through a "
    "broadcast single-row aggregate, no driver action) -> one "
    "(doc_id) agg reassembling via sort_array. No window, no UDF.",
    strip_boilerplate(docs, delim=" ", max_df_frac=0.5))

add("Benchmark decontamination (r7)",
    "The benchmark's distinct shingle set builds a BroadcastHashJoin — "
    "the corpus side NEVER shuffles for the join; shingles are "
    "pre-distinct'ed per doc so the one (doc_id) hash agg counts "
    "distinct shared shingles with no count_distinct Expand.",
    decontaminate(docs, docs.where(F.col("doc_id") % 10 == 0)))

out = ["# PLANS — physical-plan audit of the core operators",
       "",
       "Generated by scripts/gen_plans.py (`df.explain('formatted')` on",
       "representative inputs). What to look for at 100 TB is annotated",
       "per section.", ""]
for title, note, plan in sections:
    out += [f"## {title}", "", note, "", "```", plan.strip(), "```", ""]
open("docs/PLANS.md", "w").write("\n".join(out))
print("wrote docs/PLANS.md", sum(len(p) for _,_,p in sections), "chars of plans")
spark.stop()
