"""Minimum spanning forest — Boruvka rounds (parallel MST), [NR+]
link-graph analytics family.

Boruvka is THE bounded-round distributed MSF: every component picks its
minimum-weight outgoing edge, all picked edges join the forest at once,
and the components contract — the component count at least halves each
round, so the fixpoint needs <= log2(|V|) rounds regardless of graph
shape (the reason Boruvka, not Prim/Kruskal, is the MapReduce/Pregel
surface for MST).  On a link graph the MSF is the standard backbone
extractor: the lightest skeleton connecting each community, used for
graph sparsification, single-linkage clustering (the MSF dendrogram),
and visual layout seeding.

Determinism with duplicate weights: edges are totally ordered by
``(w, a, b)`` (canonical ``a < b``), which makes all weights effectively
distinct — the MSF under that order is UNIQUE, so the Spark loop, the
SQL twin, and a Kruskal replay all return the exact same edge set, and
the cycle property holds without a distinct-weights precondition.

Per round, everything is an equi-join or a map-side-combined aggregate:

1. cross edges: ``rel ⋈ labels`` on both endpoints, keep ``la != lb``;
2. pick: per component label, ``min(struct(w, a, b, la, lb))`` over the
   incident cross edges (each edge offered to both sides) — a map-side
   combined single-key aggregate;
3. contract: the picked edges projected to ``(la, lb)`` pairs form a
   pseudo-forest over component labels; its min-label components
   (:func:`~parallel_louvain_method_spark.operators.components
   .connected_components` — one forest pass over a relation that is
   <= #components rows) become the new labels, applied to the
   vertex→label table with one equi-join.

Weights pass through ``MIN`` only — no arithmetic — so fixed-round
results are bit-identical across engines (the sssp_r3 pattern without
even the IEEE-sum caveat).

:func:`msf_rounds` is the SQL-unrollable fixed-round oracle twin
(forest edges picked in the first ``rounds`` Boruvka rounds; round 1
needs no labels at all, round 2's labels are one recursive-CTE closure
of the round-1 pseudo-forest — the connected_components oracle shape).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from parallel_louvain_method_spark.operators.components import (
    connected_components,
)
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint


def _canonical_weighted(edges: DataFrame) -> DataFrame:
    """Simple undirected weighted relation ``(a, b, w)``: ``a < b``,
    self-loops excluded, min weight per pair (parallel edges collapse to
    their lightest — the only one an MSF could ever use)."""
    if "weight" not in edges.columns:
        edges = edges.withColumn("weight", F.lit(1.0))
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").cast("long").alias("a"),
            F.greatest("src", "dst").cast("long").alias("b"),
            F.col("weight").cast("double").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )


def _pick_min_edges(cross: DataFrame) -> DataFrame:
    """Per component label, the minimum cross edge by ``(w, a, b)`` —
    each edge offered to both endpoint components; returns the DISTINCT
    picked edges ``(w, a, b, la, lb)`` (an edge picked by both sides
    appears once)."""
    e = F.struct("w", "a", "b", "la", "lb").alias("e")
    cand = cross.select(F.col("la").alias("comp"), e).unionAll(
        cross.select(F.col("lb").alias("comp"), e)
    )
    return (
        cand.groupBy("comp")
        .agg(F.min("e").alias("e"))
        .select("e.w", "e.a", "e.b", "e.la", "e.lb")
        .distinct()
    )


def _cross_edges(rel: DataFrame, labels: DataFrame) -> DataFrame:
    """``(a, b, w, la, lb)`` for edges whose endpoints live in different
    components under ``labels[v, lbl]``."""
    return (
        rel.join(
            labels.select(F.col("v").alias("a"), F.col("lbl").alias("la")),
            "a",
        )
        .join(
            labels.select(F.col("v").alias("b"), F.col("lbl").alias("lb")),
            "b",
        )
        .filter(F.col("la") != F.col("lb"))
    )


def _contract(labels: DataFrame, picked: DataFrame) -> DataFrame:
    """New vertex labels after merging along the picked edges: min-label
    connected components of the (la, lb) pseudo-forest (<= #components
    rows), mapped back over the vertex→label table with one equi-join."""
    comp_edges = picked.select(
        F.col("la").alias("src"),
        F.col("lb").alias("dst"),
        F.lit(1.0).alias("weight"),
    ).distinct()
    mapping = connected_components(comp_edges).select(
        F.col("vtx").alias("lbl"), F.col("component").alias("new_lbl")
    )
    return labels.join(mapping, "lbl", "left").select(
        "v", F.coalesce("new_lbl", "lbl").alias("lbl")
    )


def _init_labels(rel: DataFrame) -> DataFrame:
    return (
        rel.select(F.col("a").alias("v"))
        .unionAll(rel.select("b"))
        .distinct()
        .select("v", F.col("v").alias("lbl"))
    )


def _forest_schema(spark):
    return spark.createDataFrame([], "a long, b long, w double")


def minimum_spanning_forest(
    edges: DataFrame, max_iter: int | None = None
) -> DataFrame:
    """Minimum spanning forest of the undirected weighted graph:
    ``DataFrame[a: long, b: long, w: double]`` — one row per forest edge,
    canonical ``a < b``; exactly ``|V| - #components`` rows.  Missing
    ``weight`` column means unit weights (the MSF is then a BFS-ish
    spanning forest under the ``(a, b)`` tie-break).

    Deterministic under duplicate weights via the total order
    ``(w, a, b)``; equals the Kruskal replay under the same order.
    ``max_iter`` bounds the Boruvka rounds and RAISES on exhaustion
    (the kcore contract: never a silent partial forest); the unbounded
    default always terminates — components at least halve per round, so
    the fixpoint needs <= log2(|V|) rounds.
    """
    rel = fresh_checkpoint(_canonical_weighted(edges))
    labels = fresh_checkpoint(_init_labels(rel))
    forest = _forest_schema(edges.sparkSession)
    rounds = range(max_iter) if max_iter is not None else itertools.count()
    for _ in rounds:
        cross = fresh_checkpoint(_cross_edges(rel, labels))
        if cross.isEmpty():
            return fresh_checkpoint(forest)
        picked = fresh_checkpoint(_pick_min_edges(cross))
        forest = fresh_checkpoint(
            forest.unionAll(picked.select("a", "b", "w"))
        )
        labels = fresh_checkpoint(_contract(labels, picked))
    raise RuntimeError(
        f"minimum_spanning_forest did not converge within {max_iter} "
        "Boruvka rounds (fixpoint needs <= log2(|V|)); raise max_iter or "
        "pass max_iter=None for the unbounded loop"
    )


def single_linkage(
    edges: DataFrame,
    threshold: float,
    forest: DataFrame | None = None,
    max_iter: int | None = None,
) -> DataFrame:
    """Single-linkage flat clustering at distance ``threshold``:
    ``DataFrame[vtx: long, cluster: long]`` where two vertices share a
    cluster iff some path connects them using only edges of weight
    ``<= threshold`` (weights are DISTANCES here — invert similarities
    first), and ``cluster`` is the min vertex id of the cluster (the
    :func:`~parallel_louvain_method_spark.operators.components
    .connected_components` label convention).  Every vertex of the raw
    edge table appears; vertices with no light edge are singleton
    clusters.

    The classic Kruskal/single-linkage property: for ANY cut height t,
    the components of ``{e : w(e) <= t}`` equal the components of the
    MSF edges of weight ``<= t`` — so one
    :func:`minimum_spanning_forest` (``|V|-#components`` edges, the
    whole dendrogram) serves every threshold.  Pass a precomputed
    ``forest`` to amortize repeated cuts; the filter+components step
    touches only forest rows, never the full edge table.
    """
    verts = (
        edges.select(F.col("src").cast("long").alias("v"))
        .unionAll(edges.select(F.col("dst").cast("long").alias("v")))
        .distinct()
    )
    if forest is None:
        forest = minimum_spanning_forest(edges, max_iter=max_iter)
    light = forest.filter(F.col("w") <= F.lit(float(threshold)))
    comp = connected_components(
        light.select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            F.col("w").alias("weight"),
        )
    )
    return verts.join(comp, verts.v == comp.vtx, "left").select(
        verts.v.alias("vtx"),
        F.coalesce(comp.component, verts.v).alias("cluster"),
    )


def msf_rounds(edges: DataFrame, rounds: int) -> DataFrame:
    """Forest edges picked in the first ``rounds`` Boruvka rounds (a
    subset of the full MSF — NOT necessarily spanning) — the
    SQL-unrollable fixed-round oracle twin of
    :func:`minimum_spanning_forest`."""
    if rounds < 1:
        raise ValueError("msf_rounds requires rounds >= 1")
    rel = fresh_checkpoint(_canonical_weighted(edges))
    labels = fresh_checkpoint(_init_labels(rel))
    forest = _forest_schema(edges.sparkSession)
    for _ in range(rounds):
        cross = fresh_checkpoint(_cross_edges(rel, labels))
        if cross.isEmpty():
            break
        picked = fresh_checkpoint(_pick_min_edges(cross))
        forest = fresh_checkpoint(
            forest.unionAll(picked.select("a", "b", "w"))
        )
        labels = fresh_checkpoint(_contract(labels, picked))
    return forest
