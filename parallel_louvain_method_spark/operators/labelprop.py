"""Label propagation (LPA) community detection — SURVEY.md A12, [NR].

Synchronous weighted LPA with deterministic semantics:
- per round, each active vertex adopts the label with the largest total
  incident edge weight among its neighbors; ties break to the LOWEST label
  (``max_by(label, struct(w, -label))``) so results are reproducible —
  Spark ordering is otherwise nondeterministic (SURVEY.md §7.3);
- fully synchronous LPA oscillates on bipartite structure, so each round
  activates a PSEUDO-RANDOM half of the vertices, seeded by the round
  number (``xxhash64(src, it)``) — the same oscillation breaker as the
  Louvain supersteps (operators/louvain.py).  Strict parity alternation
  (``hash(src) + it mod 2``) re-activates the SAME two halves forever and
  LOCKS period-2 cycles on bipartite graphs; round-seeded halves vary every
  round, so a cycle cannot persist;
- stops after three consecutive change-free rounds (independent active
  sets) or ``max_iter``.

Everything is built-in DataFrame ops: one join + two aggregations per
round, label table ``fresh_checkpoint``-ed per round (the superseded one
released) and broadcast into the round's joins up to
``plans.strategy.DRIVER_VERTICES`` vertices (``small_side``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from parallel_louvain_method_spark.plans import strategy
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint, release
from parallel_louvain_method_spark.plans.strategy import small_side
from parallel_louvain_method_spark.operators.graph import (
    exclude_self_loops,
    symmetric_edges,
    vertex_ids,
)


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    weighted: bool = True,
) -> DataFrame:
    """Returns ``DataFrame[vtx: long, label: long]``."""
    sym = (
        exclude_self_loops(symmetric_edges(edges))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = vertex_ids(edges).withColumnRenamed("v", "vtx")
    n_verts = verts.count()
    limit = strategy.DRIVER_VERTICES
    labels = fresh_checkpoint(verts.select("vtx", F.col("vtx").alias("label")))
    wcol = F.col("weight") if weighted else F.lit(1.0)

    zero_streak = 0
    for it in range(max_iter):
        # weight to each neighboring label, for this round's active parity.
        # The round seed rides as DATA (1-row broadcast cross join) so the
        # generated source is round-invariant and the codegen cache hits —
        # a literal seed compiled a fresh janino class per round (see the
        # louvain sql loop's params note, operators/louvain.py).  rnd is
        # INT to keep xxhash64's typed hashing identical to F.lit(it).
        params = edges.sparkSession.createDataFrame([(it,)], "rnd int")
        active = (
            sym.crossJoin(F.broadcast(params))
            .filter(F.pmod(F.xxhash64("src", F.col("rnd")), F.lit(2)) == 0)
            .drop("rnd")
        )
        label_w = (
            active.join(
                small_side(labels, n_verts, limit).withColumnRenamed("vtx", "dst"),
                "dst",
            )
            .groupBy(F.col("src").alias("vtx"), F.col("label"))
            .agg(F.sum(wcol).alias("w"))
        )
        # argmax with deterministic tie-break: highest w, then lowest label
        best = label_w.groupBy("vtx").agg(
            F.max_by(
                F.col("label"), F.struct(F.col("w"), (-F.col("label")).alias("nl"))
            ).alias("new_label")
        )
        new_labels = (
            labels.join(small_side(best, n_verts, limit, False), "vtx", "left")
            .select(
                "vtx",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
        )
        new_labels = fresh_checkpoint(new_labels)
        changed = (
            new_labels.withColumnRenamed("label", "nl")
            .join(labels, "vtx")
            .filter(F.col("nl") != F.col("label"))
            .count()
        )
        release(labels)
        labels = new_labels
        zero_streak = zero_streak + 1 if changed == 0 else 0
        if zero_streak >= 3:  # three independent pseudo-random halves quiet
            break

    sym.unpersist()
    return labels
