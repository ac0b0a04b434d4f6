"""Spectral link-analysis centralities — eigenvector centrality and HITS.

The reference stops at community structure (Louvain,
/root/reference/src/community.cpp:64-102); the next question a link-graph
user asks about a source-code corpus graph is "which nodes are the
*important* ones?"  PageRank (operators/pagerank.py) answers it with a
random-surfer model; this module adds the other two classic answers:

- **eigenvector centrality** (Bonacich 1987): the dominant eigenvector of
  the (symmetric, weighted) adjacency matrix, computed by power
  iteration — a vertex is central when its neighbors are central;
- **HITS** (Kleinberg 1999, "Authoritative sources in a hyperlinked
  environment"): over a *directed* edge table, mutually-recursive hub
  and authority scores — an authority is pointed at by good hubs, a hub
  points at good authorities.  On a code-corpus graph the directed
  customer→part / repo→file style bipartite tables are exactly HITS'
  home turf.

Both are bounded-shuffle power iterations with the engine's standard
loop posture (same as operators/pagerank.py):

- one vertex-keyed equi-join + one map-side-combined aggregation per
  half-step; the checkpointed state side is broadcast up to
  ``plans.strategy.DRIVER_VERTICES`` vertices and shuffle-hashed past
  that (``strategy.small_side``), and AQE splits skewed hub keys;
- the L1 normalizer rides as a broadcast 1-row cross join (never a
  driver round-trip inside the loop);
- per-iteration ``fresh_checkpoint`` (plans/lineage.py) keeps lineage
  and carried stats flat;
- convergence (``tol``) costs one driver action per iteration — the
  max |Δscore| aggregate; with ``tol=None`` the loop runs exactly
  ``max_iter`` rounds with NO mid-loop action, which makes the fixed-k
  run SQL-unrollable (the gate-twin pattern of ``pagerank_k3``).

Normalization is **L1** (scores sum to 1.0) rather than the textbook L2:
the ranking is identical (normalization only rescales), the scores read
as a distribution like PageRank's, and the algebra stays exactly
expressible in ANSI SQL for the DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from parallel_louvain_method_spark.operators.graph import (
    symmetric_edges,
    vertex_ids,
)
from parallel_louvain_method_spark.plans import strategy
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint
from parallel_louvain_method_spark.plans.strategy import small_side


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 20,
    tol: float | None = 1e-6,
) -> DataFrame:
    """Power-iteration eigenvector centrality over the undirected graph.

    ``DataFrame[vtx: long, score: double]`` over every vertex of
    ``edges`` (both endpoints), L1-normalized per iteration.  The input
    is symmetrized + deduped first (engine convention, P1/P2); weights
    multiply — parallel edges with distinct weights act additively, and
    self-loops contribute like any other edge (the adjacency diagonal).

    ``tol``: stop when ``max |Δscore| < tol`` (one count-free aggregate
    action per iteration); ``tol=None`` runs exactly ``max_iter``
    iterations with no mid-loop action — the SQL-unrollable fixed-k twin.

    Caveat (standard power-iteration theory, documented not hidden): on a
    BIPARTITE graph the adjacency spectrum is symmetric (±λ₁) and the raw
    iteration oscillates between the two sides instead of converging;
    ``tol`` may then never fire and the fixed-k result depends on k's
    parity.  Callers on bipartite tables should prefer :func:`hits`,
    whose hub/authority split is the bipartite-native formulation.
    """
    if max_iter < 1:
        raise ValueError("eigenvector_centrality requires max_iter >= 1")
    sym = fresh_checkpoint(symmetric_edges(edges))
    verts = vertex_ids(sym)
    n = verts.count()
    if n == 0:
        return sym.sparkSession.createDataFrame([], "vtx long, score double")
    state = verts.select(
        F.col("v").alias("vtx"), F.lit(1.0 / n).alias("score")
    )
    # the per-iteration state is checkpointed (stats-free leaves — see
    # plans/lineage.py), so the planner would sort-merge-join it onto the
    # big edge side every round
    limit = strategy.DRIVER_VERTICES
    for _ in range(max_iter):
        raw = (
            sym.join(
                small_side(state, n, limit).withColumnRenamed("vtx", "src"), "src"
            )
            .groupBy(F.col("dst").alias("vtx"))
            .agg(F.sum(F.col("weight") * F.col("score")).alias("raw"))
        )
        # every vertex of the symmetric table appears as a dst, so no
        # left-join fill is needed; the L1 normalizer is a broadcast
        # 1-row cross join (A6 pattern, operators/louvain.py)
        total = raw.agg(F.sum("raw").alias("s"))
        new = fresh_checkpoint(
            raw.crossJoin(F.broadcast(total)).select(
                "vtx", (F.col("raw") / F.col("s")).alias("score")
            )
        )
        if tol is not None:
            delta = (
                new.join(
                    state.withColumnRenamed("score", "prev"), "vtx"
                )
                .agg(F.max(F.abs(F.col("score") - F.col("prev"))).alias("d"))
                .first()["d"]
            )
            state = new
            if delta is not None and delta < tol:
                break
        else:
            state = new
    return state.select("vtx", "score")


def hits(
    edges: DataFrame,
    max_iter: int = 20,
    tol: float | None = 1e-6,
) -> DataFrame:
    """HITS hub/authority scores over the DIRECTED edge table.

    ``DataFrame[vtx: long, hub: double, authority: double]`` over every
    vertex (union of src and dst ids).  Edges are used exactly as given —
    direction matters, parallel rows act additively, weights multiply.
    Per iteration (Kleinberg's update order):

    1. ``authority(v) = Σ_{u→v} w(u,v) · hub(u)``, then L1-normalize;
    2. ``hub(u) = Σ_{u→v} w(u,v) · authority_new(v)``, then L1-normalize.

    Vertices with no in-edges keep authority 0; no out-edges, hub 0.
    ``tol``: stop when ``max |Δhub| + max |Δauthority| < tol``;
    ``tol=None`` = exactly ``max_iter`` fixed iterations (no mid-loop
    action — the SQL-unrollable gate-twin mode, ``hits_k2``).
    """
    if max_iter < 1:
        raise ValueError("hits requires max_iter >= 1")
    spark = edges.sparkSession
    e = fresh_checkpoint(
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
    )
    verts = vertex_ids(e).select(F.col("v").alias("vtx"))
    n = verts.count()
    if n == 0:
        return spark.createDataFrame(
            [], "vtx long, hub double, authority double"
        )
    verts = fresh_checkpoint(verts)
    # scores are checkpointed stats-free leaves each round: never
    # sort-merge the big edge side per half-step
    limit = strategy.DRIVER_VERTICES
    state = verts.select(
        "vtx",
        F.lit(1.0 / n).alias("hub"),
        F.lit(1.0 / n).alias("authority"),
    )

    def _half(scores: DataFrame, key_in: str, key_out: str) -> DataFrame:
        """One half-step: propagate ``scores[vtx, sc]`` across edges from
        the ``key_in`` to the ``key_out`` endpoint and L1-normalize.
        The result is SPARSE — only vertices with a ``key_out``-side edge
        appear; absent rows are exact zeros, contribute nothing to the
        next propagation (x + 0.0 == x for these non-negative scores),
        and are zero-filled once at the end — not with a full-vertex
        join per half-step."""
        raw = (
            e.join(
                small_side(scores, n, limit).withColumnRenamed("vtx", key_in), key_in
            )
            .groupBy(F.col(key_out).alias("vtx"))
            .agg(F.sum(F.col("weight") * F.col("sc")).alias("raw"))
        )
        total = raw.agg(F.sum("raw").alias("s"))
        return raw.crossJoin(F.broadcast(total)).select(
            "vtx",
            F.when(F.col("s") > 0.0, F.col("raw") / F.col("s"))
            .otherwise(F.lit(0.0))
            .alias("sc"),
        )

    def _dense(hub: DataFrame, auth: DataFrame) -> DataFrame:
        """Zero-fill the sparse half-step outputs over the full vertex
        set (absent rows are exact zeros — see ``_half``)."""
        return (
            verts.join(
                small_side(hub, n, limit).withColumnRenamed("sc", "hub"), "vtx", "left"
            )
            .join(
                small_side(auth, n, limit).withColumnRenamed("sc", "authority"),
                "vtx",
                "left",
            )
            .select(
                "vtx",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
        )

    if tol is None:
        # fixed-k mode: no mid-loop action and no per-iteration dense
        # rebuild — the hub state stays SPARSE across iterations (zeros
        # contribute exactly nothing to the sums, so the values are
        # bit-identical to the dense loop's); one checkpoint per
        # iteration keeps lineage flat, and the full-vertex zero-fill
        # runs ONCE at the end instead of max_iter times
        hub_s = state.select("vtx", F.col("hub").alias("sc"))
        auth_s = state.select("vtx", F.col("authority").alias("sc"))
        for _ in range(max_iter):
            # checkpoint each half once, in dependency order — the old
            # dense loop evaluated the auth half TWICE per iteration (once
            # under the hub half's plan, once in the state rebuild)
            auth_s = fresh_checkpoint(_half(hub_s, "src", "dst"))
            hub_s = fresh_checkpoint(_half(auth_s, "dst", "src"))
        return _dense(hub_s, auth_s)

    for _ in range(max_iter):
        auth = _half(
            state.select("vtx", F.col("hub").alias("sc")), "src", "dst"
        )
        hub = _half(auth, "dst", "src")
        new = fresh_checkpoint(_dense(hub, auth))
        delta = (
            new.join(
                state.select(
                    "vtx",
                    F.col("hub").alias("h_prev"),
                    F.col("authority").alias("a_prev"),
                ),
                "vtx",
            )
            .agg(
                (
                    F.max(F.abs(F.col("hub") - F.col("h_prev")))
                    + F.max(
                        F.abs(F.col("authority") - F.col("a_prev"))
                    )
                ).alias("d")
            )
            .first()["d"]
        )
        state = new
        if delta is not None and delta < tol:
            break
    return state.select("vtx", "hub", "authority")


def katz_centrality(
    edges: DataFrame,
    beta: float = 0.05,
    max_iter: int = 20,
    tol: float | None = 1e-9,
) -> DataFrame:
    """Katz centrality (Katz 1953) over the undirected graph.

    ``katz(v) = Σ_{i≥1} β^i · (# weighted walks of length i ending at
    v)`` — attenuated walk counting, the third classic importance score
    next to PageRank (operators/pagerank.py) and eigenvector centrality
    above.  Unlike eigenvector centrality it is well-defined on bipartite
    and disconnected graphs (no dominant-eigenvector oscillation), which
    makes it the safe default on the engine's bipartite corpus graphs.

    ``DataFrame[vtx: long, katz: double]`` over every vertex.  Computed
    as the truncated series: walk term ``c_0 = 1`` per vertex,
    ``c_{i}(v) = β · Σ_{u~v} w(u,v) · c_{i-1}(u)``, accumulator
    ``katz_k = Σ_{i=1..k} c_i``.  The series converges iff
    ``β < 1/λ₁(A)``; this is the caller's contract (standard theory) —
    with ``tol`` set, the loop also stops when the newest term's max
    entry falls below it, which for convergent β bounds the truncation
    error by ``max|c_k| / (1 - β·λ₁)``.

    Loop posture identical to :func:`eigenvector_centrality`: one
    vertex-keyed join + one map-side-combined aggregation per iteration,
    per-iteration ``fresh_checkpoint``, no mid-loop driver action when
    ``tol=None`` (the SQL-unrollable fixed-k gate-twin mode,
    ``katz_k3``).  The walk term is SPARSE (only vertices reached this
    round); the accumulator join zero-fills once per iteration.
    """
    if max_iter < 1:
        raise ValueError("katz_centrality requires max_iter >= 1")
    if beta <= 0.0:
        raise ValueError("katz_centrality requires beta > 0")
    sym = fresh_checkpoint(symmetric_edges(edges))
    verts = vertex_ids(sym).select(F.col("v").alias("vtx"))
    spark = sym.sparkSession
    n = verts.count()
    if n == 0:
        return spark.createDataFrame([], "vtx long, katz double")
    # checkpointed state is stats-free (plans/lineage.py): never a
    # per-iteration sort-merge of the edge side
    limit = strategy.DRIVER_VERTICES
    # state: walk term c (sparse join source) + accumulator katz
    term = verts.select("vtx", F.lit(1.0).alias("c"))
    acc = verts.select("vtx", F.lit(0.0).alias("katz"))
    for _ in range(max_iter):
        new_term = (
            sym.join(small_side(term, n, limit).withColumnRenamed("vtx", "src"), "src")
            .groupBy(F.col("dst").alias("vtx"))
            .agg((F.lit(beta) * F.sum(F.col("weight") * F.col("c"))).alias("c"))
        )
        new_term = fresh_checkpoint(new_term)
        acc = fresh_checkpoint(
            acc.join(small_side(new_term, n, limit), "vtx", "left").select(
                "vtx",
                (F.col("katz") + F.coalesce(F.col("c"), F.lit(0.0))).alias(
                    "katz"
                ),
            )
        )
        term = new_term
        if tol is not None:
            biggest = term.agg(F.max(F.abs(F.col("c"))).alias("m")).first()["m"]
            if biggest is None or biggest < tol:
                break
    return acc.select("vtx", "katz")
