"""Per-level resumable checkpoints (SURVEY.md S7).

The reference intended but never implemented this
(/root/reference/src/distcommunity.cpp:899 "TODO ... Checkpoint edgelist
here").  Layout, one directory per completed level::

    <dir>/level=<k>/edges/        coarse symmetric edge table (parquet)
    <dir>/level=<k>/assignment/   flat vtx -> community (parquet)
    <dir>/level=<k>/metrics.json  the level's record: modularity, sweeps,
                                  moves, vertex and edge counts, wall time,
                                  engine

Parquet gives partition-parallel write/read.  ALL filesystem access —
including the metrics sidecar and directory listing — goes through the
Hadoop FileSystem API (``Path.getFileSystem``), so ``checkpoint_dir`` may
be a local path, ``hdfs://`` or ``s3a://`` URI alike: the cluster
deployment the CLI advertises.

Completeness protocol: ``metrics.json`` is written LAST, strictly after
both parquet writes (whose own ``_SUCCESS`` markers the Hadoop committer
emits) — so its presence implies a complete level, and ``latest_level``
checks exactly that.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for a local path or any supported URI."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def _level_dir(base: str, level: int) -> str:
    return f"{base.rstrip('/')}/level={level}"


def save_level(
    spark: SparkSession,
    base: str,
    level: int,
    coarse_edges: DataFrame,
    flat_assign: DataFrame,
    metrics: dict,
) -> None:
    d = _level_dir(base, level)
    coarse_edges.write.mode("overwrite").parquet(f"{d}/edges")
    flat_assign.write.mode("overwrite").parquet(f"{d}/assignment")
    # metrics.json LAST = the completeness marker; Hadoop FS stream so the
    # sidecar lands on the same filesystem as the parquet (hdfs/s3a/local)
    fs, jpath = _fs(spark, f"{d}/metrics.json")
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(metrics, indent=2).encode("utf-8")))
    finally:
        out.close()


def latest_level(spark: SparkSession, base: str) -> int | None:
    """Highest level with a complete (metrics.json present) checkpoint."""
    fs, jbase = _fs(spark, base)
    if not fs.exists(jbase):
        return None
    done = []
    for status in fs.listStatus(jbase):
        name = status.getPath().getName()
        if name.startswith("level=") and fs.exists(
            spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
                status.getPath(), "metrics.json"
            )
        ):
            done.append(int(name.split("=", 1)[1]))
    return max(done) if done else None


def load_level(
    spark: SparkSession, base: str, level: int
) -> tuple[DataFrame, DataFrame, dict]:
    d = _level_dir(base, level)
    edges = spark.read.parquet(f"{d}/edges")
    assign = spark.read.parquet(f"{d}/assignment")
    fs, jpath = _fs(spark, f"{d}/metrics.json")
    stream = fs.open(jpath)
    try:
        # read fully via the JVM stream (no Py4J byte-array chunking games:
        # metrics is tiny)
        jvm = spark.sparkContext._jvm
        metrics = json.loads(
            jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        )
    finally:
        stream.close()
    return edges, assign, metrics
