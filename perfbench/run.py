"""Benchmark of pyrate_spark's three uses, end to end and per layer.

    python3 perfbench/run.py --workload batch_skewed --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a source checkout on ``local[<cores>]``. Set-up
is the session start, the Python worker warm-up and the input
generation and landing (``setup_s``). The run then times the first pass
in the fresh session, runs one warm-up pass, and measures later passes
until ``--seconds`` of their pass time have run, checking every pass's
products against references computed apart from the engine
(``checks.py``). The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics, end to end with ``--trace 0`` and per layer
with ``--trace 1``.

``--selftest`` instead runs one pass and feeds each check a corrupted
copy of the pass's real output; every corruption must be reported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_skewed", "incremental_maintenance")
#: passes after the first that are checked but left out of wall_s and
#: cpu_s: the second pass is still warming up (README, "Warm-up")
WARM_PASSES = 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    return ap.parse_args(argv)


def environment(work: str) -> dict:
    """Keep every file the run writes inside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYRATE_SPARK_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("PYRATE_SPARK_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


class Bench:
    def __init__(self, args):
        from perfbench import workloads as W
        self.args = args
        self.W = W
        self.spec = W.SPECS[args.workload]
        self.work = os.path.join(ROOT, ".perfbench_work", args.workload)
        shutil.rmtree(self.work, ignore_errors=True)
        self.conf = environment(self.work)
        self.dirs = W.Dirs(self.work)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        """Start the session, warm its Python workers, then generate and
        land the inputs."""
        from pyrate_spark.operators.grouped import warm_python_workers
        from pyrate_spark.session import get_session
        t0 = time.perf_counter()
        self.spark = get_session("perfbench", parallelism=self.cpus,
                                 shuffle_partitions=self.cpus,
                                 extra=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_python_workers(self.spark)
        t2 = time.perf_counter()
        self.meta = self.W.make_inputs(self.spec, self.args.seed, self.dirs)
        t3 = time.perf_counter()
        self.setup_parts = {"start": t1 - t0, "warm": t2 - t1,
                            "datagen": t3 - t2}
        from perfbench.trace import SparkProbe
        self.probe = SparkProbe(self.spark)
        from perfbench import checks as C
        self.C = C
        self.con = C.connect()
        refs = {"batch_skewed": C.batch_refs,
                "incremental_maintenance": C.incremental_refs}
        refs[self.args.workload](self.con, self.dirs, self.meta)

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and
        every process it started (the Python daemon and workers) have
        ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        from perfbench.trace import process_tree
        jvm = int(self.spark.sparkContext._gateway.jvm
                  .java.lang.ProcessHandle.current().pid())
        pids = process_tree(jvm)
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                    and not _zombie(p)]
            time.sleep(0.1)
        if hasattr(self, "con"):
            self.con.close()

    # -- passes -------------------------------------------------------------

    def one_pass(self, traced: bool) -> dict:
        from perfbench.trace import Tracer, tree_cpu_s
        tr = Tracer(self.probe, traced)
        pid = self.probe.jvm_pid
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        out = self.W.PASSES[self.args.workload](self.spark, tr, self.spec,
                                                self.dirs, self.meta)
        wall = time.perf_counter() - t0 - tr.untimed_s
        cpu = tree_cpu_s(pid) - c0 - tr.untimed_cpu_s
        return {"wall": wall, "cpu": cpu, "tr": tr, "out": out}

    def checks(self, res: dict) -> list:
        C, w = self.C, self.args.workload
        out, counts = res["out"], res["tr"].counts
        if w == "batch_skewed":
            C.dashboard_pass_refs(self.con, self.dirs)
            return C.batch_checks(self.dirs, self.meta, out, counts)
        return C.incremental_checks(self.con, self.dirs, self.meta, out,
                                    counts)

    def facts(self, res: dict) -> dict:
        """Measures read off a pass's products."""
        w, out, con = self.args.workload, res["out"], self.con
        pq = self.C.pq_dir
        if w == "batch_skewed":
            pts, nb = con.execute(
                f"SELECT sum(n_points), sum(bytes_encoded) FROM "
                f"{pq(self.dirs.product('encoded'))}").fetchone()
            return {"tier_bytes_per_point": nb / pts,
                    "tiersink.points": pts, "tiersink.bytes_encoded": nb,
                    "downsample.points_kept": self.points_kept()}
        cap = out["captures"]
        deltas = out["deltas"][1:]

        def n_files(files):
            return sum(len(f) for f in files.values())
        live = cap["rows_after_expiry"].num_rows
        size = sum(s for f in cap["files_after_expiry"].values()
                   for _, s in f)
        before, after = (cap["files_before_compaction"],
                         cap["files_after_compaction"])
        rewritten = sum(s for d in out["compacted"]["compacted"]
                        for _, s in after.get(d, ()))
        return {
            "freshness_s": statistics.median(d["freshness_s"]
                                             for d in deltas),
            "read_s": statistics.median(d["read_s"] for d in deltas),
            "compaction_s": out["compaction_s"],
            "store_bytes_per_row": size / live,
            "backfill.files_written": n_files(before),
            "retention.files_before": n_files(before),
            "retention.files_after": n_files(after),
            "retention.bytes_rewritten_mb": rewritten / float(1 << 20),
            "retention.days_dropped": len(out["expired"]["dropped"]),
        }

    def points_kept(self) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM {self.C.pq_dir(self.dirs.product('lttb'))}"
        ).fetchone()[0]

    def judge(self, res: dict) -> None:
        """Check a pass; tally its operations."""
        results = self.C.run(self.con, self.checks(res))
        res["facts"] = self.facts(res)
        res["attempted"] = len(results)
        res["failed"] = sum(1 for _, f, known in results if known)
        res["wrong"] = [(op, f) for op, f, known in results
                        if f and not known]
        for op, f in res["wrong"]:
            print(f"CHECK FAILED {op}: {f}", file=sys.stderr)

    def measure(self) -> list:
        """The first pass, ``WARM_PASSES`` warm-up passes, then measured
        passes until ``--seconds`` of their pass time have run. With
        tracing, measured passes alternate traced and untraced, starting
        traced and ending untraced."""
        passes, spent = [], 0.0
        while True:
            k = len(passes) - 1 - WARM_PASSES   # index of a measured pass
            if k > 0 and spent >= self.args.seconds \
                    and not (self.args.trace and k % 2):
                break
            traced = bool(self.args.trace) and k >= 0 and k % 2 == 0
            res = self.one_pass(traced)
            res["traced"] = traced
            res["measured"] = k >= 0
            t_check = time.perf_counter()
            self.judge(res)
            res["check_s"] = time.perf_counter() - t_check
            passes.append(res)
            spans = " ".join(f"{name}={v['s']:.2f}"
                             for name, v in res["tr"].spans.items())
            print(f"pass {len(passes)} measured={int(k >= 0)} "
                  f"traced={int(traced)} "
                  f"wall={res['wall']:.2f} cpu={res['cpu']:.2f} "
                  f"check={res['check_s']:.2f} {spans}",
                  file=sys.stderr)
            if k >= 0:
                spent += res["wall"]
        return passes


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def end_to_end(bench: Bench, passes: list) -> dict:
    from perfbench.layers import END_TO_END
    from perfbench.trace import median
    measured = [p for p in passes if p["measured"]]
    values = {
        "setup_s": sum(bench.setup_parts.values()),
        "first_pass_s": passes[0]["wall"],
        "wall_s": median(p["wall"] for p in measured),
        "cpu_s": median(p["cpu"] for p in measured),
    }
    return {k: (v, END_TO_END[k]) for k, v in values.items()}


def per_layer(bench: Bench, passes: list) -> dict:
    from perfbench import layers
    from perfbench.trace import median
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if p["measured"] and not p["traced"]]
    parts = bench.setup_parts
    values = layers.traced_metrics(traced, plain)
    values.update({
        "session.start_s": parts["start"],
        "session.worker_warm_s": parts["warm"],
        "datagen.s": parts["datagen"],
        "trace.overhead_s": (median(p["wall"] for p in traced)
                             - median(p["wall"] for p in plain)),
    })
    values.update(layers.process_metrics(bench.probe))
    path = os.path.join(bench.work, "layers.json")
    with open(path, "w") as f:
        json.dump({"workload": bench.args.workload, "seed": bench.args.seed,
                   "trace.overhead_s": values["trace.overhead_s"],
                   "input_counts": {**layers.input_counts(plain),
                                    "datagen.rows": bench.meta["rows"]},
                   "spans": layers.span_table(traced)}, f, indent=1)
    print(f"per-span table: {path}", file=sys.stderr)
    return {k: (values[k], u) for k, u in layers.PER_LAYER.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyrate_spark", "__init__.py")):
        print(f"no pyrate_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    bench = Bench(args)
    try:
        bench.setup()
        if args.selftest:
            res = bench.one_pass(False)
            checks = bench.checks(res)
            problems = bench.C.self_test(bench.con, checks)
            for p in problems:
                print(f"SELFTEST {p}", file=sys.stderr)
            print(json.dumps({"selftest": args.workload,
                              "checks": len(checks),
                              "corruptions": 3 * len(checks),
                              "problems": problems}))
            return 1 if problems else 0
        passes = bench.measure()
        metrics = (per_layer(bench, passes) if args.trace
                   else end_to_end(bench, passes))
    finally:
        bench.close()
    print(json.dumps({
        "correct": not any(p["wrong"] for p in passes),
        "attempted": sum(p["attempted"] for p in passes),
        "failed": sum(p["failed"] for p in passes),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
