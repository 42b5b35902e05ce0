"""SparkSession factory with the engine's standard configuration.

Every caller (the CLI, ``bench.py``, ``perfbench``, the oracle gate and
the tests) takes its session from here, so these settings hold for the
whole engine: AQE on (runtime skew-join splitting + partition
coalescing), Arrow on (every grouped-map kernel is Arrow-batched), an
explicit shuffle-partition count sized to the target parallelism, a
whole-stage-codegen cache that holds the engine's whole working set of
generated classes, and a driver heap sized from the memory the process
can see. On a real cluster the same code ships via
``spark-submit --py-files pyrate_spark.zip job.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: bounds of the default driver heap
DRIVER_MEM_CAP_MB = 12 * 1024
DRIVER_MEM_FLOOR_MB = 1024
#: cgroup "no limit" reads as a near-2^63 byte count
_UNLIMITED = 1 << 60


def driver_memory(mem_available: int | None,
                  cgroup_limit: int | None) -> str:
    """Default ``spark.driver.memory`` from the bytes the process can
    see: half of the smaller of ``MemAvailable`` and the cgroup limit,
    between 1 GiB and 12 GiB. The other half is left to the JVM's
    off-heap memory, the Python workers and whatever else runs on the
    host (a fixed 12g heap beside an oracle-gate JVM got a 16 GB
    host's test run OOM-killed); a second engine process started
    later sees less available and sizes itself smaller. Half, not
    less: the test suite's iterative plans need a 5 GiB heap. Unknown
    or unlimited inputs are ignored; with neither known the cap
    applies."""
    seen = [b for b in (mem_available, cgroup_limit)
            if b is not None and 0 < b < _UNLIMITED]
    if not seen:
        return f"{DRIVER_MEM_CAP_MB}m"
    mb = min(seen) // 2 // (1024 * 1024)
    return f"{max(DRIVER_MEM_FLOOR_MB, min(DRIVER_MEM_CAP_MB, mb))}m"


def _mem_available() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return None


def _cgroup_limit() -> int | None:
    # cgroup v2 first; its "max" (no limit) is not an int and is skipped
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                return int(fh.read().split()[0])
        except (OSError, ValueError, IndexError):
            continue
    return None


def get_session(app_name: str = "pyrate-spark",
                parallelism: int | None = None,
                shuffle_partitions: int | None = None,
                extra: dict | None = None) -> SparkSession:
    # one BLAS thread per python worker: with N workers already running
    # one task each, multi-threaded BLAS inside the numpy kernels would
    # oversubscribe N*N threads and thrash. Must be set before workers
    # fork (they inherit the driver env in local mode).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    # glibc: keep big numpy buffers on the heap (reused) instead of
    # per-allocation mmap/munmap cycles. On hosts where first-touch
    # page faulting is slow (measured ~2k faults/s on this microVM
    # under memory-manager pressure), refaulting a freed-and-remmapped
    # 100 MB kernel temporary costs SECONDS per allocation; heap reuse
    # pays it once per worker. Read by glibc at process start, so it
    # must be exported before the JVM forks the python workers.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        # AQE: runtime re-planning, skew-join mitigation, coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batch transfer for all pandas UDFs
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # r8: the grouped-list boundary ships one row per KEY with a
        # list column, so row-count alone no longer bounds batch
        # memory — cap the bytes too (Spark 4 knob; ~256 MB keeps a
        # worker's decode buffer bounded however long the lists get)
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(256 * 1024 * 1024))
        # Whole-stage-codegen cache sized to the engine's working set of
        # generated classes (static conf: must be set before the JVM's
        # first codegen). Spark's default of 100 is smaller than one
        # perfbench batch_skewed pass (125 distinct classes); the access
        # is cyclic, so LRU evicted each class before the next pass and
        # every warm pass re-ran Janino on 95 classes, and the JIT on
        # their reloaded bytecode. incremental_maintenance needs 75, and
        # all 114 declared queries at sf0.001 together 1254, so 2048
        # holds the whole operator surface and a long-lived session
        # serving any mix of operators never recompiles.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or (cpus or 32)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
                os.environ.get("PYRATE_SPARK_WAREHOUSE",
                               "/tmp/pyrate-spark-warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("PYRATE_SPARK_DRIVER_MEM")
                or driver_memory(_mem_available(), _cgroup_limit()))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
