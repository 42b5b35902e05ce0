"""Per-layer metrics of a traced run, by the engine's module names.

Every workload prints every metric; a layer a workload leaves idle
reads 0 there, which is itself the prediction for that workload.
"""

from __future__ import annotations

import json
import os

from perfbench.trace import median, peak_rss_mb, process_tree

with open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: name -> unit of every printed metric, as BENCHMARK.json lists them
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
#: per-layer metrics that come from set-up, processes or the run as a
#: whole rather than from one pass
RUN_LEVEL = ("session.", "datagen.", "proc.", "trace.")
#: counts the input fixes (the checks pin them exactly); a pass reports
#: them in ``layers.json`` only, since fewer would mean lost data, not
#: a faster engine
INPUT_COUNTS = ("extract.rows", "pairs.rows", "grouped.hot_keys",
                "tiersink.points", "downsample.points_kept",
                "retention.days_dropped",
                "streaming.rows_dropped_by_watermark")
PASS_METRICS = tuple(k for k in PER_LAYER if not k.startswith(RUN_LEVEL)) \
    + INPUT_COUNTS

#: layer spans whose time a metric reports directly
SPAN_TIMES = {
    "extract.s": "extract", "rollup.hour_s": "rollup.hour",
    "rollup.cascade_s": "rollup.cascade",
    "rollup.mergeable_s": "rollup.mergeable", "pairs.s": "pairs",
    "grouped.hot_detect_s": "grouped.hot_detect",
    "grouped.rates_s": "grouped.rates",
    "grouped.rates_mst_s": "grouped.rates_mst",
    "tiersink.encode_s": "tiersink.encode",
    "tiersink.decode_s": "tiersink.decode", "anomaly.s": "anomaly",
    "metrics.s": "metrics", "downsample.s": "downsample", "asof.s": "asof",
    "snapshots.merge_s": "snapshots.merge",
    "snapshots.expire_s": "snapshots.expire",
    "backfill.raw_append_s": "backfill.raw_append",
    "retention.compact_s": "retention.compact",
    "retention.expire_s": "retention.expire",
}


def pass_metrics(res: dict) -> dict:
    tr = res["tr"]
    spans, counts = tr.spans, tr.counts
    m = dict.fromkeys(PASS_METRICS, 0.0)
    for metric, span in SPAN_TIMES.items():
        m[metric] = spans.get(span, {}).get("s", 0.0)
    for metric in ("extract.rows", "pairs.rows", "grouped.hot_keys",
                   "snapshots.commit_s", "snapshots.dirs_rewritten"):
        m[metric] = counts.get(metric, 0.0)
    for layer in ("extract", "rollup", "pairs"):
        m[f"{layer}.shuffle_write_mb"] = tr.total("shuffle_write_mb", layer)
    for layer in ("rollup", "pairs"):
        m[f"{layer}.spill_mb"] = tr.total("spill_mb", layer)
    m["rollup.exchanges"] = tr.total("exchanges", "rollup")
    for k in ("python_s", "arrow_sent_mb", "arrow_recv_mb", "python_rows",
              "exchanges", "fallback_plans"):
        m[f"grouped.{k}"] = tr.total(k, "grouped")
    tasks = tr.tasks("grouped.rates")
    m["grouped.task_max_s"] = max(tasks, default=0.0)
    m["grouped.task_median_s"] = median(tasks)
    runs = counts.get("streaming.runs", 0)
    if runs:
        m["streaming.pass_s"] = spans["streaming"]["s"] / runs
        prog = tr.progress
        m["streaming.micro_batches"] = len(prog)
        for metric, key in (("add_batch_ms", "addBatch"),
                            ("wal_commit_ms", "walCommit"),
                            ("commit_offsets_ms", "commitOffsets")):
            m[f"streaming.{metric}"] = sum(
                p.get("durationMs", {}).get(key, 0) for p in prog)
        ops = [op for p in prog for op in p.get("stateOperators", [])]
        last = prog[-1].get("stateOperators", [{}])
        m["streaming.state_rows"] = sum(o.get("numRowsTotal", 0)
                                        for o in last)
        m["streaming.state_memory_mb"] = sum(
            o.get("memoryUsedBytes", 0) for o in last) / float(1 << 20)
        m["streaming.state_commit_ms"] = sum(o.get("commitTimeMs", 0)
                                             for o in ops)
        m["streaming.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
        reads = max(runs - 1, 1)
        m["snapshots.read_latest_s"] = spans.get(
            "snapshots.read_latest", {}).get("s", 0.0) / reads
        m["snapshots.read_asof_s"] = spans.get(
            "snapshots.read_asof", {}).get("s", 0.0) / reads
    for k, v in res["facts"].items():
        if k in m:
            m[k] = v
    for metric, key in (("run_s", "run_s"), ("cpu_s", "cpu_s"),
                        ("gc_s", "gc_s"), ("tasks", "tasks"),
                        ("shuffle_write_mb", "shuffle_write_mb"),
                        ("spill_mb", "spill_mb")):
        name = ("spark.executor_" + metric if metric in ("run_s", "cpu_s")
                else "spark." + metric)
        m[name] = tr.total(key)
    return {k: float(v) for k, v in m.items()}


def traced_metrics(traced: list, plain: list) -> dict:
    """Per-layer metrics of a run: span times and Spark counters are
    medians over the traced passes; the facts read off the products
    (``Bench.facts``), whose stopwatches would include the tracer's
    counter reads, are medians over the untraced ones."""
    rows = [pass_metrics(p) for p in traced]
    out = {k: median(r[k] for r in rows) for k in PASS_METRICS}
    for k in plain[0]["facts"]:
        if k in out:
            out[k] = median(p["facts"][k] for p in plain)
    return {k: v for k, v in out.items() if k in PER_LAYER}


def input_counts(plain: list) -> dict:
    m = pass_metrics(plain[0])
    return {k: m[k] for k in INPUT_COUNTS}


def process_metrics(probe) -> dict:
    """Peak resident memory of the JVM and of its Python workers."""
    pids = process_tree(probe.jvm_pid)
    py = 0.0
    for pid in pids[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    py += peak_rss_mb(pid)
        except OSError:
            continue
    return {"proc.jvm_peak_rss_mb": peak_rss_mb(probe.jvm_pid),
            "proc.python_peak_rss_mb": py}


def span_table(traced: list) -> dict:
    """Per span, the median over traced passes of: wall time, executor
    run time, shuffle and spill MB, Python time, Arrow MB both ways and
    the slowest task against the median task."""
    rows: dict[str, list] = {}
    for res in traced:
        for name, r in res["tr"].spans.items():
            tasks = r.get("task_s", [])
            med = median(tasks)
            rows.setdefault(name, []).append({
                "s": r["s"], "executor_run_s": r.get("run_s", 0.0),
                "shuffle_write_mb": r.get("shuffle_write_mb", 0.0),
                "spill_mb": r.get("spill_mb", 0.0),
                "python_s": r.get("python_s", 0.0),
                "arrow_mb": r.get("arrow_sent_mb", 0.0)
                + r.get("arrow_recv_mb", 0.0),
                "task_max_s": max(tasks, default=0.0),
                "task_median_s": med,
                "task_max_to_median": max(tasks) / med if med else 0.0})
    return {name: {k: median(r[k] for r in recs) for k in recs[0]}
            for name, recs in rows.items()}
