"""SparkSession builder tuned for the link-graph engine.

Defaults chosen for iterative graph workloads at scale:
- AQE on (runtime re-planning, auto broadcast conversion, skew-join
  splitting) — the Spark-native replacement for the reference's hand-rolled
  owner routing (src/graph.cpp:141-215) and ghost caching;
- Arrow execution on, so ``applyInPandas`` kernels get columnar batches
  (the CSR-block transport);
- shuffle partitions sized to the core count, not the 200 default — the
  per-sweep joins of Louvain re-shuffle the edge table every iteration and
  oversized partition counts dominate wall time at small SF while
  undersized ones spill at large SF.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The smaller of 48g and half the host's ``MemTotal``: 48g on a
    15 GB host let the local-mode JVM grow until the OOM killer took it
    (``bench.py`` at sf0.1, 4 of 6 runs).  48g where ``meminfo`` cannot
    be read."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mb, int(line.split()[1]) // 2048)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "plm",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores=None`` uses ``local[*]``.  On a real cluster this module is not
    used — ``spark-submit`` provides the session and the engine only ever
    touches the passed-in SparkSession.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode = one JVM for driver + all executor threads: size the
        # heap for the CACHES (edge tables at two levels) plus per-sweep
        # Arrow serialization buffers, or GC stalls serialize every sweep —
        # measured 3-8x sweep-wall inflation at 34.8M cached rows under the
        # previous 8g default.  On a real cluster spark-submit sizes
        # executors instead and this module is unused.
        .config(
            "spark.driver.memory",
            os.environ.get("PLM_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Shuffle/spill directory.  In local mode every "executor" shares ONE
    # machine's disk, so shuffle-heavy stages hit its bandwidth ceiling
    # long before the cores are busy — a single-box artifact a real cluster
    # doesn't have (each executor brings its own NVMe).  Point
    # PLM_LOCAL_DIR at tmpfs (e.g. /dev/shm/spark-local) to measure the
    # engine rather than the sandbox disk.
    local_dir = os.environ.get("PLM_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
