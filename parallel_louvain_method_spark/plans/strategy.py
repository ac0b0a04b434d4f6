"""Engine limits and size-gated join choices, in one place.

Each limit is a memory budget: the rows (or bytes) one machine — the
driver, a broadcast relation, a barrier task — may hold; a hash join's
build side is the same budget (PAPERS.md, "CAMEL Hash Table").  Operators
read them at call time as ``strategy.X``, so a test can
``monkeypatch.setattr`` a limit to force the large-graph path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Vertices whose per-vertex state the driver may hold as numpy arrays or
# broadcast to every executor: PageRank's barrier engine and its broadcast
# rank joins, the in-memory CC forest, LPA's and the spectral loops'
# broadcast state, and the corpus builders' name -> id map.
DRIVER_VERTICES = 5_000_000

# Vertices up to which a Louvain level runs on the barrier engine and its
# communities are renumbered in driver numpy: the level's n-length
# community / degree arrays live in every barrier task and in the driver.
BARRIER_VERTICES = 20_000_000

# Symmetric edge rows one barrier task may hold: the task materializes its
# whole src-partition's adjacency.  8.7M rows per task ran clean; at ~22M
# (an 87M-edge graph on 8 cores) the one-time JVM -> Python transfer alone
# took ~160 s and worker memory pressure stalled the kernels.
BARRIER_ROWS_PER_TASK = 12_000_000

# Rows of a vtx -> community map broadcast into Louvain's coarse-edge
# joins: its hash relation builds serially in the driver, in well under a
# second at this size; past it the joins shuffle-hash, keeping every byte
# parallel.
BROADCAST_MAP_ROWS = 200_000

# Bytes of a per-vertex HLL-sketch state table (worst case n * 2^lg_k)
# broadcast into the HyperBall neighbour joins: the relation is held whole
# in the driver and in every executor, so it stays a small fraction of a
# GB-sized heap.
SKETCH_BROADCAST_BYTES = 128 << 20


def small_side(
    df: DataFrame, size: int | None, limit: int, leaf: bool = True
) -> DataFrame:
    """``df`` hinted as the small side of a join: broadcast when ``size``
    is known and at most ``limit`` (same unit: rows or bytes).  Otherwise
    ``shuffle_hash`` on a stats-free leaf (a checkpoint reports the default
    leaf size, so the planner would sort-merge the big side) and no hint
    on a shuffle-backed side, whose statistics AQE reads."""
    if size is not None and size <= limit:
        return F.broadcast(df)
    return df.hint("shuffle_hash") if leaf else df
