"""Connected components, exact (SURVEY.md A11, [NR] north rule): every
vertex is labeled by the least vertex id of its component.

Two engines, chosen by the vertex count n against
``plans.strategy.DRIVER_VERTICES``:

- **in-memory forest** (n at or below the limit): one ``mapInArrow``
  pass over the raw edges.  Each partition maps its ids to local indices
  in sorted order (``np.unique``), runs
  :func:`~parallel_louvain_method_spark.functions.kernels.min_root` and
  yields ``(v, root)`` for every local vertex.  The driver collects those
  rows, maps them to indices the same way, runs the same kernel and reads
  ``component = ids[root]``.  Sorted indices keep the least index the
  least id, so any long id works (negative, sparse, near ±2^63), and the
  edges may be given in either or both directions.  The kernel's parents
  only decrease, so it ends without a round cap: the answer is exact on
  every graph.  The collect holds Σ_partitions(local vertices) ≤
  min(P·n, 2m) rows for P partitions and m edge rows.
- **DataFrame engine** (above the limit): min-label propagation plus
  one pointer jump per round over the symmetrized edge set — one join,
  one groupBy-min and one label self-join per round, checkpointed (the
  superseded round released).  It
  returns when a round changes nothing and raises ``RuntimeError`` when
  round ``max_iter`` still changed labels: long chains need many rounds
  (PAPERS.md, "Finding connected components in map-reduce in logarithmic
  rounds", gives the log-round rewrite this engine does not have yet).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from parallel_louvain_method_spark.functions.kernels import min_root
from parallel_louvain_method_spark.plans import strategy
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint, release
from parallel_louvain_method_spark.operators.graph import (
    symmetrize,
    vertex_ids,
)


def _forest_partition(batches):
    """``(v, root)`` for every vertex of one partition's edges, ``root``
    the least id of ``v``'s component among those edges."""
    import pyarrow as pa

    src, dst = [], []
    for b in batches:
        src.append(b.column(0).to_numpy(zero_copy_only=False))
        dst.append(b.column(1).to_numpy(zero_copy_only=False))
    if not src:
        return
    k = sum(map(len, src))
    ids, idx = np.unique(
        np.concatenate(src + dst).astype(np.int64), return_inverse=True
    )
    root = min_root(idx[:k], idx[k:], len(ids))
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(ids[root])], names=["v", "root"]
    )


def _cc_forest(edges: DataFrame) -> DataFrame:
    """The in-memory engine: per-partition forests, one driver merge."""
    import pandas as pd

    rows = (
        edges.select("src", "dst")
        .mapInArrow(_forest_partition, schema="v long, root long")
        .toPandas()
    )
    k = len(rows)
    ids, idx = np.unique(
        np.concatenate(
            [rows["v"].to_numpy(np.int64), rows["root"].to_numpy(np.int64)]
        ),
        return_inverse=True,
    )
    root = min_root(idx[:k], idx[k:], len(ids))
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"vtx": ids, "component": ids[root]}),
        schema="vtx long, component long",
    ).localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Returns ``DataFrame[vtx: long, component: long]`` with
    ``component = min vertex id of the component``, over every endpoint
    of ``edges`` (``DataFrame[src, dst, weight]``, read as undirected).

    Up to ``strategy.DRIVER_VERTICES`` vertices the in-memory forest
    engine runs (no rounds, no cap; the driver collects at most
    min(P·n, 2m) rows for P partitions, n vertices and m edge rows);
    above it the DataFrame engine runs, and ``max_iter`` bounds only that
    engine's rounds — it raises ``RuntimeError`` instead of returning
    labels that are still moving.
    """
    if vertex_ids(edges).count() <= strategy.DRIVER_VERTICES:
        return _cc_forest(edges)
    # one distinct over the symmetrize union: reachability only needs
    # the (src, dst) pair set, so the weight-aware dedup pass of
    # symmetric_edges would be a second, redundant hash aggregation
    sym = (
        symmetrize(edges)
        .select("src", "dst")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the symmetric table's src column covers every vertex (both endpoints
    # appear as src), so the vertex set is a one-sided distinct of the
    # (cached) sym table instead of a union+distinct over the raw input
    verts = sym.select(F.col("src").alias("vtx")).distinct()
    labels = fresh_checkpoint(
        verts.select("vtx", F.col("vtx").alias("component"))
    )
    try:
        for _ in range(max_iter):
            nbr_min = (
                sym.join(labels.withColumnRenamed("vtx", "dst"), "dst")
                .groupBy(F.col("src").alias("vtx"))
                .agg(F.min("component").alias("nbr_component"))
            )
            stepped = labels.join(nbr_min, "vtx", "left").select(
                "vtx",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            # pointer jump: component <- component's own current label
            jumped = (
                stepped.alias("a")
                .join(
                    stepped.select(
                        F.col("vtx").alias("component"),
                        F.col("component").alias("parent"),
                    ).alias("b"),
                    "component",
                    "left",
                )
                .select(
                    F.col("vtx"),
                    F.coalesce(F.col("parent"), F.col("component")).alias(
                        "component"
                    ),
                )
            )
            jumped = fresh_checkpoint(jumped)
            changed = (
                jumped.withColumnRenamed("component", "new_component")
                .join(labels, "vtx")
                .filter(F.col("new_component") != F.col("component"))
                .count()
            )
            release(labels)
            labels = jumped
            if changed == 0:
                return labels
    finally:
        sym.unpersist()
    release(labels)
    raise RuntimeError(
        f"connected_components: labels still changed in round max_iter="
        f"{max_iter} (the DataFrame engine, above "
        f"{strategy.DRIVER_VERTICES} vertices); raise max_iter"
    )


def component_counts(edges: DataFrame) -> DataFrame:
    """``DataFrame[component, size]`` — exact sizes (north rule)."""
    return (
        connected_components(edges)
        .groupBy("component")
        .agg(F.count("*").alias("size"))
    )


def component_size_histogram(edges: DataFrame) -> DataFrame:
    """``DataFrame[size, n_components]`` — how many components exist at
    each size, the standard first diagnostic over a web-scale link graph
    (giant-component check, isolate count, fragmentation profile).

    Two map-side-combined aggregations on top of
    :func:`connected_components`; the histogram is at most
    O(√(2·|V|)) rows (distinct sizes), so it is always tiny relative to
    the graph — safe to collect, broadcast, or plot at any scale.
    """
    return (
        component_counts(edges)
        .groupBy("size")
        .agg(F.count("*").alias("n_components"))
    )


def refine_communities(
    edges: DataFrame,
    assignment: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Leiden-style connectivity refinement: split every community that
    is not internally connected into its connected parts.

    Louvain's local-move + label-collapse can leave a community whose
    induced subgraph is DISCONNECTED (the defect Traag et al.'s Leiden
    paper fixes — "From Louvain to Leiden", §2): a bridge vertex moves
    away and strands the two sides under one label.  Splitting such a
    community into its connected parts never decreases modularity (the
    split removes no intra-community edge and Σ tot² only shrinks), so
    this is the safe, always-valid post-pass on ANY partition — from
    :func:`..louvain.louvain`, label propagation, or an external tool.

    ``assignment``: ``DataFrame[vtx, comm]`` (extra columns ignored).
    Returns ``DataFrame[vtx: long, comm: long]`` over exactly the
    assignment's vertices, with each refined part canonically labeled by
    its minimum vertex id (original ids are NOT preserved — min-vtx
    labels are deterministic and collision-free across communities
    because parts are disjoint vertex sets).  A vertex with no
    intra-community edge becomes its own singleton.

    Plan shape: two vertex-keyed joins restrict ``edges`` (read as
    given — either or both directions) to same-community pairs (the
    community columns never leave the join), then
    :func:`connected_components` on that induced subgraph, which is
    strictly sparser than the input graph, then one left join back onto
    the assignment with a singleton fallback.  ``max_iter`` bounds only
    the DataFrame engine of :func:`connected_components`.
    """
    a = assignment.select("vtx", "comm")
    intra = (
        edges.filter(F.col("src") != F.col("dst"))
        .join(
            a.select(F.col("vtx").alias("src"), F.col("comm").alias("cs")),
            "src",
        )
        .join(
            a.select(F.col("vtx").alias("dst"), F.col("comm").alias("cd")),
            "dst",
        )
        .filter(F.col("cs") == F.col("cd"))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )
    parts = connected_components(intra, max_iter=max_iter)
    return a.join(parts, "vtx", "left").select(
        "vtx", F.coalesce(F.col("component"), F.col("vtx")).alias("comm")
    )


def incremental_components(
    old_assign: DataFrame, new_edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Maintain ``(vtx, component)`` labels under a batch of ADDED edges
    without re-running components over the full graph — the algorithmic
    companion to the incremental edge-maintenance path (sources/corpus.py
    incremental_pair_edges, streaming/ingest.py).

    Edge additions only ever MERGE components, so the update reduces to
    connected components over the QUOTIENT graph: relabel the batch's
    endpoints by their current component (new vertices become singletons
    labeled by their own id — consistent with the min-id convention),
    contract, and run the fixpoint on a graph whose size is bounded by
    the BATCH's touched components, not |V| or |E|.  Component labels
    stay ``min vertex id`` (min of mins under merging), so chained calls
    and a from-scratch rebuild agree exactly.  Edge REMOVALS can split
    components and need the full recompute — out of scope by design.
    ``max_iter`` bounds only the DataFrame engine of
    :func:`connected_components`.
    """
    pts = (
        new_edges.select(F.col("src").alias("vtx"))
        .union(new_edges.select(F.col("dst").alias("vtx")))
        .distinct()
    )
    fresh = pts.join(old_assign, "vtx", "left_anti").select(
        "vtx", F.col("vtx").alias("component")
    )
    assign0 = old_assign.select("vtx", "component").union(fresh)
    amap = assign0.withColumnRenamed("vtx", "__v")
    quotient = (
        new_edges.join(
            amap.select(
                F.col("__v").alias("src"), F.col("component").alias("qsrc")
            ),
            "src",
        )
        .join(
            amap.select(
                F.col("__v").alias("dst"), F.col("component").alias("qdst")
            ),
            "dst",
        )
        .filter(F.col("qsrc") != F.col("qdst"))
        .select(
            F.col("qsrc").alias("src"),
            F.col("qdst").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
        .distinct()
    )
    merged = connected_components(quotient, max_iter=max_iter)
    return assign0.join(
        merged.select(
            F.col("vtx").alias("component"),
            F.col("component").alias("new_component"),
        ),
        "component",
        "left",
    ).select(
        "vtx",
        F.coalesce(F.col("new_component"), F.col("component")).alias(
            "component"
        ),
    )
