"""Whole-graph / partition diagnostic metrics.

The reference stops at modularity of its own Louvain state
(/root/reference/src/community.cpp:183-200); a link-graph analytics user
asks two follow-up questions the moment communities exist: "is this graph
assortative?" (hubs-link-to-hubs vs hubs-link-to-leaves — decides whether
degree-based partitioning/salting will skew) and "how good is THIS
partition?" (per-community conductance — the standard cut-quality score
for any assignment, whether it came from Louvain, LPA, or an external
label).  Both are pure DataFrame joins + one aggregation: no iteration,
no Python in the hot path, shuffle keyed on vertex ids exactly like the
engine's own degree/community aggregations.

Conventions (shared with the engine, documented against the gate twins):

- degrees are computed over the SYMMETRIC deduped table, self-loops
  counted once — identical to :func:`..graph.degrees`
  (reference semantics, src/graph.cpp:238-247);
- the assortativity correlation runs over the self-loop-EXCLUDED
  symmetric rows, so each undirected edge contributes one (du, dv) and
  one (dv, du) sample — the standard symmetrized Pearson form
  (Newman 2002, "Assortative mixing in networks", eq. 4);
- conductance(c) = cut(c) / min(vol(c), vol(G) - vol(c)), NULL when the
  denominator is zero (a community that is the whole graph, or an
  isolated community with no volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from .graph import exclude_self_loops, symmetric_edges, vertex_ids
from ..plans import strategy
from ..plans.strategy import small_side


def degree_assortativity(edges: DataFrame, weighted: bool = False) -> DataFrame:
    """Pearson degree-degree correlation over edges, as a 1-row frame.

    ``DataFrame[assortativity: double]`` — r in [-1, 1]; NULL when every
    vertex has the same degree (zero variance) or the graph has no
    non-loop edge.  ``weighted=True`` uses weight-summed degrees (the
    engine's :func:`..graph.degrees`); the default uses simple row-count
    degrees over the symmetric table.

    Plan shape: one degree aggregation (shuffle on vertex id), reused on
    both endpoints of a vertex-keyed join, then a single scalar ``corr``
    — the same two-join skeleton as the neighbor→community join (J1), so
    it inherits the engine's skew posture: degree rows are tiny
    (vtx, double) and the join is AQE-splittable on the hot keys.
    """
    sym = symmetric_edges(edges)
    dm = F.sum("weight") if weighted else F.count("*").cast("double")
    deg = sym.groupBy(F.col("src").alias("v")).agg(dm.alias("deg"))
    samples = (
        exclude_self_loops(sym)
        .select("src", "dst")
        .join(deg.select(F.col("v").alias("src"), F.col("deg").alias("du")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("dv")), "dst")
    )
    # explicit Pearson (population moments; the n/(n-1) factors cancel) —
    # ANSI-mode `corr` raises DIVIDE_BY_ZERO on zero-variance inputs (a
    # regular graph), where the right answer is NULL, not an error
    return samples.agg(
        F.try_divide(
            F.covar_pop("du", "dv"),
            F.stddev_pop("du") * F.stddev_pop("dv"),
        ).alias("assortativity")
    )


def partition_quality(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Per-community cut metrics for an arbitrary vertex→community map.

    ``assignment``: ``DataFrame[vtx: long, community: long]`` covering the
    graph's vertices (vertices missing from the assignment drop out of
    the metrics; assignment rows for absent vertices count toward
    ``n_vertices`` only).

    Returns ``DataFrame[community, n_vertices, volume, internal_weight,
    cut_weight, conductance]`` where, over the symmetric deduped table
    (self-loops once, per the engine's degree convention):

    - ``volume`` = Σ weight of rows whose src is in c;
    - ``internal_weight`` = Σ weight of rows with both endpoints in c
      (so a proper undirected internal edge contributes twice, a
      self-loop once — exactly 2·w_in(c) + loops(c));
    - ``cut_weight`` = volume − internal_weight = Σ weight leaving c;
    - ``conductance`` = cut / min(vol, vol(G) − vol), NULL if min is 0;
    - ``modularity`` = internal/vol(G) − (volume/vol(G))², the standard
      per-community Q term (internal IS the Louvain Σ_in, volume the
      Σ_tot, vol(G) the 2m normalizer — reference formula,
      /root/reference/src/community.cpp:183-200): summed over
      communities it reproduces the reference's golden Q on its golden
      partition (0.346301, tests), for ANY assignment, not just the
      engine's own Louvain state (operators/louvain.py:164).

    One vertex-keyed join per endpoint, one groupBy(community) — the same
    shuffle skeleton as the engine's community-totals aggregation (J2/A5,
    operators/louvain.py); the vol(G) scalar rides as a broadcast 1-row
    cross join, never a driver round-trip inside a loop.
    """
    sym = symmetric_edges(edges)
    # exact duplicate (vtx, community) rows would double-count every
    # incident edge through the joins below while count_distinct kept
    # n_vertices right — dedupe once so both uses see the same relation.
    # A vertex in TWO DIFFERENT communities remains the caller's error
    # (the metrics would double-count its edges); assignments here are
    # functions vtx → community by contract.
    assignment = assignment.dropDuplicates(["vtx", "community"])
    a_src = assignment.select(F.col("vtx").alias("src"), F.col("community").alias("cs"))
    a_dst = assignment.select(F.col("vtx").alias("dst"), F.col("community").alias("cd"))
    tagged = sym.join(a_src, "src").join(a_dst, "dst")
    per_c = tagged.groupBy(F.col("cs").alias("community")).agg(
        F.sum("weight").alias("volume"),
        F.sum(F.when(F.col("cs") == F.col("cd"), F.col("weight")).otherwise(0.0)).alias(
            "internal_weight"
        ),
    )
    sizes = assignment.groupBy("community").agg(
        F.count_distinct("vtx").alias("n_vertices")
    )
    total = per_c.agg(F.sum("volume").alias("total_volume"))
    denom = F.least(F.col("volume"), F.col("total_volume") - F.col("volume"))
    return (
        sizes.join(per_c, "community", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "community",
            "n_vertices",
            F.coalesce("volume", F.lit(0.0)).alias("volume"),
            F.coalesce("internal_weight", F.lit(0.0)).alias("internal_weight"),
            (F.coalesce("volume", F.lit(0.0)) - F.coalesce("internal_weight", F.lit(0.0))).alias(
                "cut_weight"
            ),
            F.when(
                denom > 0.0,
                (F.col("volume") - F.col("internal_weight")) / denom,
            ).alias("conductance"),
            F.when(
                F.col("total_volume") > 0.0,
                F.coalesce("internal_weight", F.lit(0.0)) / F.col("total_volume")
                - (F.coalesce("volume", F.lit(0.0)) / F.col("total_volume"))
                * (F.coalesce("volume", F.lit(0.0)) / F.col("total_volume")),
            ).alias("modularity"),
        )
    )


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    method: str = "hll",
    lg_k: int = 12,
) -> DataFrame:
    """ANF / HyperBall: N(h) = Σ_v |ball(v, h)| for h = 1..max_hops.

    ``ball(v, h)`` is the set of vertices within distance ≤ h of v,
    INCLUDING v itself; N(h) counts ordered (v, w) pairs, so N saturates
    at Σ_c |component c|².  The effective diameter and the hop-plot both
    read straight off this table (:func:`effective_diameter`).

    ``method="hll"`` — the scale path (Palmer et al. 2002 ANF; Boldi &
    Vigna 2011 HyperBall): per-vertex state is ONE Datasketches HLL
    sketch (≈2^lg_k bytes max, exact in coupon mode below ~0.75·2^lg_k
    distinct), advanced by a neighbor join + ``hll_union_agg`` — state
    stays O(|V|·2^lg_k) no matter how dense the balls get, every byte
    JVM-side.  Estimates are Spark's rounded BIGINT, exact for small
    balls, ±~1.6%/√2^lg_k beyond coupon mode.

    ``method="exact"`` — materializes ball membership as distinct
    (vtx, w) rows: the oracle baseline, O(Σ|ball|) rows — NEVER at 100 TB
    scale (a small-world graph saturates to |V|² pairs in ~6 hops);
    gate-checked against a DuckDB twin at h=2.

    Both methods stop early once N(h) stops growing (all balls closed).
    Returns a driver-materialized ``DataFrame[h: int, n_pairs: long]``
    (≤ max_hops rows; the per-round count is the iteration's action
    anyway, so no extra job).  Per-round ``fresh_checkpoint`` keeps the
    loop's lineage and stats flat (the engine-wide idiom —
    plans/lineage.py).
    """
    from ..plans.lineage import fresh_checkpoint

    if max_hops < 1:
        raise ValueError("neighborhood_function requires max_hops >= 1")
    # checkpoint once: the per-hop loop otherwise re-runs the symmetrize
    # union + dedup every hop
    sym = fresh_checkpoint(
        exclude_self_loops(symmetric_edges(edges)).select("src", "dst")
    )
    # vertex set from the RAW edges (not sym): a vertex with only
    # self-loop edges still counts a size-1 ball here
    verts = vertex_ids(edges)
    rows: list[tuple[int, int]] = []
    if method == "hll":
        # the per-hop checkpoint leaves the sketch state stats-free; size it
        # by its worst-case bytes, n · 2^lg_k
        sketch_bytes = verts.count() * (1 << lg_k)
        state = verts.groupBy(F.col("v").alias("vtx")).agg(
            F.hll_sketch_agg("v", F.lit(lg_k)).alias("sketch")
        )
        state = fresh_checkpoint(state)
        prev = None
        for h in range(1, max_hops + 1):
            contrib = sym.join(
                small_side(state, sketch_bytes, strategy.SKETCH_BROADCAST_BYTES)
                .select(F.col("vtx").alias("dst"), "sketch"),
                "dst",
            ).select(F.col("src").alias("vtx"), "sketch")
            state = fresh_checkpoint(
                state.select("vtx", "sketch")
                .unionByName(contrib)
                .groupBy("vtx")
                .agg(F.hll_union_agg("sketch").alias("sketch"))
            )
            n = state.agg(
                F.sum(F.hll_sketch_estimate("sketch")).alias("n")
            ).first()["n"]
            n = int(n) if n is not None else 0  # SUM over an empty graph
            rows.append((h, n))
            if prev is not None and n == prev:
                break
            prev = n
    elif method == "exact":
        state = fresh_checkpoint(
            verts.select(F.col("v").alias("vtx"), F.col("v").alias("w"))
        )
        prev = None
        for h in range(1, max_hops + 1):
            contrib = sym.join(
                state.select(F.col("vtx").alias("dst"), "w"), "dst"
            ).select(F.col("src").alias("vtx"), "w")
            state = fresh_checkpoint(
                state.unionByName(contrib).distinct()
            )
            n = state.count()
            rows.append((h, n))
            if prev is not None and n == prev:
                break
            prev = n
    else:
        raise ValueError(f"unknown method {method!r} (hll | exact)")
    return spark.createDataFrame(rows, "h int, n_pairs long")


def effective_diameter(nf: DataFrame, alpha: float = 0.9) -> int:
    """Smallest h with N(h) ≥ alpha · N(h_max), off a materialized
    :func:`neighborhood_function` table (≤ max_hops rows — driver-side
    by construction)."""
    pts = sorted((r["h"], r["n_pairs"]) for r in nf.collect())
    if not pts:
        raise ValueError("empty neighborhood function")
    target = alpha * pts[-1][1]
    for h, n in pts:
        if n >= target:
            return h
    return pts[-1][0]


def _ball_centrality_scan(
    edges: DataFrame,
    max_hops: int,
    method: str,
    lg_k: int,
    caller: str,
) -> DataFrame:
    """Shared HyperBall scan behind :func:`harmonic_centrality` and
    :func:`closeness_centrality`.

    Returns ``DataFrame[vtx, n_ball, harm, dsum]`` over non-isolated
    vertices, where with n_h(v) = vertices at distance EXACTLY h:
    ``n_ball`` = |ball(v, H)| including v itself (double; exact in
    ``exact`` mode and for coupon-mode HLL sketches), ``harm`` =
    Σ_{h≤H} n_h(v)/h, ``dsum`` = Σ_{h≤H} n_h(v)·h (the truncated sum of
    distances).  The HyperBall observation (Boldi & Vigna 2011): n_h(v) =
    |ball(v,h)| − |ball(v,h−1)|, so BOTH running sums ride the per-vertex
    sketch state as plain double columns — no joins beyond the one
    neighbor join per hop that grows the balls.

    ``method="exact"`` materializes ball membership as distinct (vtx, w)
    rows — the labeled oracle baseline, O(Σ|ball|) rows, never the scale
    path.  Early exit once no ball grows (the sums are then untruncated
    per component).  Loop posture as everywhere: per-round stats-free
    checkpoints (plans/lineage.py), one driver action per round.
    """
    from ..plans.lineage import fresh_checkpoint

    if max_hops < 1:
        raise ValueError(f"{caller} requires max_hops >= 1")
    sym = fresh_checkpoint(
        exclude_self_loops(symmetric_edges(edges)).select("src", "dst")
    )
    verts = sym.select(F.col("src").alias("v")).distinct()
    if method == "hll":
        # the per-hop checkpoint leaves the sketch state stats-free; size it
        # by its worst-case bytes, n · 2^lg_k
        sketch_bytes = verts.count() * (1 << lg_k)
        state = fresh_checkpoint(
            verts.groupBy(F.col("v").alias("vtx"))
            .agg(F.hll_sketch_agg("v", F.lit(lg_k)).alias("sketch"))
            .select(
                "vtx",
                "sketch",
                F.lit(1.0).alias("est"),
                F.lit(0.0).alias("harm"),
                F.lit(0.0).alias("dsum"),
            )
        )
        prev_total = None
        for h in range(1, max_hops + 1):
            contrib = sym.join(
                small_side(state, sketch_bytes, strategy.SKETCH_BROADCAST_BYTES)
                .select(F.col("vtx").alias("dst"), "sketch"),
                "dst",
            ).select(F.col("src").alias("vtx"), "sketch")
            merged = state.select(
                "vtx", "sketch", "est", "harm", "dsum"
            ).unionByName(contrib, allowMissingColumns=True)
            grown = merged.groupBy("vtx").agg(
                F.hll_union_agg("sketch").alias("sketch"),
                F.max("est").alias("prev_est"),
                F.max("harm").alias("harm0"),
                F.max("dsum").alias("dsum0"),
            )
            new_est = F.hll_sketch_estimate("sketch").cast("double")
            state = fresh_checkpoint(
                grown.select(
                    "vtx",
                    "sketch",
                    new_est.alias("est"),
                    (
                        F.col("harm0")
                        + (new_est - F.col("prev_est")) / F.lit(float(h))
                    ).alias("harm"),
                    (
                        F.col("dsum0")
                        + (new_est - F.col("prev_est")) * F.lit(float(h))
                    ).alias("dsum"),
                )
            )
            total = state.agg(F.sum("est").alias("t")).first()["t"]
            if prev_total is not None and total == prev_total:
                break
            prev_total = total
        return state.select(
            "vtx", F.col("est").alias("n_ball"), "harm", "dsum"
        )
    if method == "exact":
        reached = fresh_checkpoint(
            verts.select(F.col("v").alias("vtx"), F.col("v").alias("w"))
        )
        acc = verts.select(
            F.col("v").alias("vtx"),
            F.lit(0.0).alias("harm"),
            F.lit(0.0).alias("dsum"),
        )
        prev_counts = verts.select(
            F.col("v").alias("vtx"), F.lit(1).cast("long").alias("c")
        )
        counts = prev_counts
        prev_n = None
        for h in range(1, max_hops + 1):
            contrib = sym.join(
                reached.select(F.col("vtx").alias("dst"), "w"), "dst"
            ).select(F.col("src").alias("vtx"), "w")
            reached = fresh_checkpoint(
                reached.unionByName(contrib).distinct()
            )
            n = reached.count()
            counts = reached.groupBy("vtx").agg(F.count("*").alias("c"))
            acc = fresh_checkpoint(
                acc.join(counts.withColumnRenamed("c", "c_new"), "vtx")
                .join(prev_counts.withColumnRenamed("c", "c_old"), "vtx")
                .select(
                    "vtx",
                    (
                        F.col("harm")
                        + (F.col("c_new") - F.col("c_old")) / F.lit(float(h))
                    ).alias("harm"),
                    (
                        F.col("dsum")
                        + (F.col("c_new") - F.col("c_old")) * F.lit(float(h))
                    ).alias("dsum"),
                )
            )
            prev_counts = counts
            if prev_n is not None and n == prev_n:
                break
            prev_n = n
        return acc.join(
            counts.select("vtx", F.col("c").cast("double").alias("n_ball")),
            "vtx",
        ).select("vtx", "n_ball", "harm", "dsum")
    raise ValueError(f"unknown method {method!r} (hll | exact)")


def harmonic_centrality(
    edges: DataFrame,
    max_hops: int,
    method: str = "hll",
    lg_k: int = 12,
) -> DataFrame:
    """Truncated harmonic centrality: H(v) = Σ_{h≤max_hops} n_h(v) / h,
    where n_h(v) is the number of vertices at distance EXACTLY h from v.

    ``DataFrame[vtx: long, harmonic: double]`` over non-isolated vertices.
    Rides the shared HyperBall scan (:func:`_ball_centrality_scan`):
    per-vertex HLL sketch state, the running sum as one double column,
    no joins beyond the per-hop neighbor join.  ``method="exact"``
    materializes ball membership (the labeled oracle baseline,
    gate-checked at h=2); hll estimates are exact for coupon-mode ball
    sizes and ±~1.6%/√2^lg_k beyond.  Early exit once no ball grows
    (then H is the UNtruncated harmonic centrality of each component).
    """
    return _ball_centrality_scan(
        edges, max_hops, method, lg_k, "harmonic_centrality"
    ).select("vtx", F.col("harm").alias("harmonic"))


def closeness_centrality(
    edges: DataFrame,
    max_hops: int,
    method: str = "hll",
    lg_k: int = 12,
) -> DataFrame:
    """Truncated closeness centrality off the same HyperBall scan.

    ``DataFrame[vtx: long, n_reached: long, dist_sum: double,
    closeness: double]`` over non-isolated vertices, where ``n_reached``
    = vertices within distance ≤ max_hops (excluding v), ``dist_sum`` =
    Σ distances to them, and ``closeness = n_reached / dist_sum`` — the
    reached-normalized (component-local) closeness, i.e. 1/mean-distance;
    NULL when nothing is reached.  The global (n−1)-normalized variant is
    one constant multiple away (``closeness · n_reached / (n−1)`` is
    Wasserman–Faust); emitting ``n_reached`` and ``dist_sum`` lets
    callers derive any of the published normalizations without another
    scan.  Same truncation/early-exit semantics and scale posture as
    :func:`harmonic_centrality` — one sketch column of state per vertex,
    ``method="exact"`` as the labeled oracle baseline (gate twin
    ``closeness_h2``).
    """
    scan = _ball_centrality_scan(
        edges, max_hops, method, lg_k, "closeness_centrality"
    )
    return scan.select(
        "vtx",
        (F.col("n_ball") - 1).cast("long").alias("n_reached"),
        F.col("dsum").alias("dist_sum"),
        F.when(
            F.col("dsum") > 0.0, (F.col("n_ball") - 1) / F.col("dsum")
        ).alias("closeness"),
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """``DataFrame[degree, n_vertices]`` — exact degree distribution over
    the simple undirected graph (self-loops dropped, parallel edges
    collapsed), the power-law diagnostic every link-graph report starts
    with.

    Two map-side-combined aggregations; the histogram has at most
    O(√(2·|E|)) rows (a graph with D distinct degrees needs Σ1..D ≈ D²/2
    edge endpoints), so like ``component_size_histogram`` it is always
    tiny relative to the graph.
    """
    sym = (
        symmetric_edges(edges)
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("degree")
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))


def rich_club(edges: DataFrame, ks: list[int]) -> DataFrame:
    """Rich-club coefficient φ(k) at each threshold in ``ks`` —
    ``DataFrame[k, n_k, e_k, phi]``.

    ``n_k`` = vertices of simple degree > k, ``e_k`` = undirected edges
    with BOTH endpoints in that club, ``phi = 2·e_k / (n_k·(n_k−1))`` —
    the density of the subgraph induced by the hubs (Zhou & Mondragón
    2004).  φ(k) → 1 means the high-degree vertices form a near-clique
    (the "rich club" of web/citation graphs); NULL when the club has
    fewer than 2 members (density undefined).

    One degree pass + one edge pass for ALL thresholds: the ks list
    (driver-side, assumed small) is exploded into a tiny broadcast and
    cross-joined against per-vertex degrees and per-edge min-endpoint
    degrees, so adding thresholds adds no extra scan.  The final
    aggregation keys on k — |ks| rows, never a skew concern.
    """
    if not ks:
        raise ValueError("rich_club requires at least one threshold")
    if len(set(ks)) != len(ks):
        raise ValueError("rich_club thresholds must be distinct")
    spark = edges.sparkSession
    kdf = F.broadcast(
        spark.createDataFrame([(int(k),) for k in ks], "k long")
    )
    sym = (
        symmetric_edges(edges)
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("d")
    )
    n_k = (
        deg.crossJoin(kdf)
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_k"))
    )
    # one direction per edge; an edge is in club k iff its SMALLER
    # endpoint degree clears k
    emin = (
        sym.filter(F.col("src") < F.col("dst"))
        .join(deg.select(F.col("v").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("dd")), "dst")
        .select(F.least("ds", "dd").alias("dmin"))
    )
    e_k = (
        emin.crossJoin(kdf)
        .filter(F.col("dmin") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("e_k"))
    )
    return (
        kdf.join(n_k, "k", "left")
        .join(e_k, "k", "left")
        .select(
            "k",
            F.coalesce("n_k", F.lit(0)).alias("n_k"),
            F.coalesce("e_k", F.lit(0)).alias("e_k"),
            F.try_divide(
                2.0 * F.coalesce("e_k", F.lit(0)),
                F.coalesce("n_k", F.lit(0))
                * (F.coalesce("n_k", F.lit(0)) - F.lit(1)),
            ).alias("phi"),
        )
    )


def partition_compare(a: DataFrame, b: DataFrame) -> DataFrame:
    """Agreement between two community assignments — 1-row
    ``DataFrame[n, n_a, n_b, ari, nmi]`` (compare Louvain vs LPA vs an
    external labeling over the same vertex set).

    Both inputs are ``DataFrame[vtx, comm]`` (extra columns ignored);
    only vertices present in BOTH sides enter (inner join — n reports
    the overlap).  Scores are the standard pair-counting / information
    measures over the contingency table ``n_ij = |A_i ∩ B_j|``:

    - ``ari``: Adjusted Rand Index (Hubert-Arabie) — pair agreement
      corrected for chance; 1 = identical partitions, ~0 = random,
      NULL when the expected index equals the maximum (both sides one
      cluster, or all singletons — the usual convention);
    - ``nmi``: Normalized Mutual Information, arithmetic-mean
      normalization ``I(A;B) / ((H(A)+H(B))/2)``; NULL when both
      entropies are 0 (both partitions trivial).

    Scale shape: ONE vertex-keyed join builds the contingency relation,
    then two map-side-combined aggregations (cells, then scalars) — the
    contingency table is at most min(#A, #B) · overlap-bounded cells and
    every later step keys on community ids, never on vertices.  All
    pair counts are exact integer sums in fp64 (< 2^53 pairs); the log
    terms use the same ``ln`` expression shape both engines compile.
    """
    av = a.select("vtx", F.col("comm").alias("ca"))
    bv = b.select("vtx", F.col("comm").alias("cb"))
    cells = (
        av.join(bv, "vtx")
        .groupBy("ca", "cb")
        .agg(F.count("*").alias("nij"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    arow = cells.groupBy("ca").agg(F.sum("nij").alias("ai"))
    brow = cells.groupBy("cb").agg(F.sum("nij").alias("bj"))

    def _pairs(c):
        return F.sum(F.col(c) * (F.col(c) - F.lit(1)) / F.lit(2.0))

    n_df = cells.agg(
        F.sum("nij").alias("n"),
        _pairs("nij").alias("sum_nij_pairs"),
    )
    a_df = arow.agg(
        F.count("*").alias("n_a"),
        _pairs("ai").alias("sum_ai_pairs"),
        F.sum(F.col("ai") * F.log("ai")).alias("sum_ai_log"),
    )
    b_df = brow.agg(
        F.count("*").alias("n_b"),
        _pairs("bj").alias("sum_bj_pairs"),
        F.sum(F.col("bj") * F.log("bj")).alias("sum_bj_log"),
    )
    mi_df = (
        cells.join(arow, "ca")
        .join(brow, "cb")
        .agg(
            F.sum(
                F.col("nij")
                * F.log(F.col("nij") / (F.col("ai") * F.col("bj")))
            ).alias("sum_nij_log")
        )
    )
    j = (
        n_df.crossJoin(F.broadcast(a_df))
        .crossJoin(F.broadcast(b_df))
        .crossJoin(F.broadcast(mi_df))
    )
    n = F.col("n").cast("double")
    total_pairs = n * (n - F.lit(1)) / F.lit(2.0)
    expected = F.col("sum_ai_pairs") * F.col("sum_bj_pairs") / total_pairs
    max_idx = (F.col("sum_ai_pairs") + F.col("sum_bj_pairs")) / F.lit(2.0)
    # H(A) = ln n − (Σ a_i ln a_i)/n; I(A;B) = (Σ n_ij ln(n·n_ij/(a_i b_j)))/n
    h_a = F.log(n) - F.col("sum_ai_log") / n
    h_b = F.log(n) - F.col("sum_bj_log") / n
    mi = F.col("sum_nij_log") / n + F.log(n)
    out = j.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.try_divide(
            F.col("sum_nij_pairs") - expected, max_idx - expected
        ).alias("ari"),
        F.try_divide(mi, (h_a + h_b) / F.lit(2.0)).alias("nmi"),
    )
    out = out.localCheckpoint(eager=True)
    cells.unpersist()
    return out


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row census — the first query anyone runs on a new edge table:
    ``DataFrame[n_vertices, n_edges, n_self_loops, max_degree,
    avg_degree, density]``.

    ``n_edges`` counts simple undirected edges (parallel collapsed,
    self-loops excluded and reported separately); ``density`` =
    ``2·m / (n·(n−1))`` (NULL below 2 vertices).  One symmetrize +
    distinct, one degree aggregation, one global aggregate — every
    output is a scalar, so the result is collectable at any scale.
    """
    raw = edges.select("src", "dst")
    loops = raw.filter(F.col("src") == F.col("dst")).distinct()
    sym = (
        symmetric_edges(edges)
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("d")
    )
    stats = deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum("d").alias("deg_sum"),
        F.max("d").alias("max_degree"),
    )
    nl = loops.agg(F.count("*").alias("n_self_loops"))
    # loop-only vertices carry degree 0 here; count them back in
    lonely = loops.join(
        deg.withColumnRenamed("v", "src"), "src", "left_anti"
    ).agg(F.count("*").alias("n_loop_only"))
    n = F.col("n_vertices") + F.col("n_loop_only")
    m = F.coalesce(F.col("deg_sum"), F.lit(0)) / F.lit(2)
    return (
        stats.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(lonely))
        .select(
            n.cast("long").alias("n_vertices"),
            m.cast("long").alias("n_edges"),
            F.col("n_self_loops").cast("long").alias("n_self_loops"),
            F.coalesce(F.col("max_degree"), F.lit(0))
            .cast("long")
            .alias("max_degree"),
            F.try_divide(F.lit(2.0) * m, n).alias("avg_degree"),
            F.try_divide(F.lit(2.0) * m, n * (n - F.lit(1))).alias(
                "density"
            ),
        )
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-edge reciprocity — 1-row ``DataFrame[n_directed,
    n_reciprocal, reciprocity]``: the fraction of distinct non-loop
    directed edges (u→v) whose reverse (v→u) is also present (the
    classic web/social directedness diagnostic; an undirected working
    table scores exactly 1.0).

    One distinct + one self-semi-join on the reversed key — both sides
    are the same relation, so the join co-partitions for free.
    """
    d = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rec = d.join(
        d.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "left_semi",
    )
    out = (
        d.agg(F.count("*").alias("n_directed"))
        .crossJoin(F.broadcast(rec.agg(F.count("*").alias("n_reciprocal"))))
        .select(
            "n_directed",
            "n_reciprocal",
            F.try_divide(
                F.col("n_reciprocal").cast("double"), F.col("n_directed")
            ).alias("reciprocity"),
        )
    ).localCheckpoint(eager=True)
    d.unpersist()
    return out


def _plogp(x):
    """x·log2(x) with plogp(0) = 0 — the map-equation term."""
    return F.when(x > 0, x * F.log2(x)).otherwise(F.lit(0.0))


def map_equation(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Two-level map-equation codelength L(M) of a partition (Rosvall &
    Bergstrom 2008) — the information-theoretic partition quality that
    complements modularity (partition_quality): expected bits per step of
    a random walk under the two-level Huffman coding.

    Undirected form, four-term expansion with plogp(x) = x·log2(x)::

        L = plogp(Σ q_i) − 2·Σ plogp(q_i) − Σ_α plogp(p_α)
            + Σ_i plogp(q_i + Σ_{α∈i} p_α)

    where p_α = deg(α)/vol(G) and q_i = cut_i/vol(G) (cut_i = weight of
    edges leaving module i; each inter-module edge contributes to BOTH
    endpoints' modules, which the symmetric table provides for free).
    One vertex-keyed join + two module aggregations — the same plan
    shape as modularity.  A single module reduces L to the visit-rate
    entropy (the one-level codelength), pinned in pytest.

    Returns one row ``(codelength, n_modules, index_len, module_len)``
    where L = index_len + module_len.
    """
    sym = symmetric_edges(edges)
    a = assignment.select("vtx", "comm")
    deg = sym.groupBy(F.col("src").alias("vtx")).agg(
        F.sum("weight").alias("degree")
    )
    vol = deg.agg(F.sum("degree").alias("vol"))
    vd = deg.join(a, "vtx").crossJoin(F.broadcast(vol))
    # per-module visit mass and exit weight
    mod_p = vd.groupBy("comm").agg(
        (F.sum("degree") / F.first("vol")).alias("p_mod")
    )
    labeled = (
        sym.join(
            a.select(F.col("vtx").alias("src"), F.col("comm").alias("c_src")),
            "src",
        )
        .join(
            a.select(F.col("vtx").alias("dst"), F.col("comm").alias("c_dst")),
            "dst",
        )
    )
    cuts = (
        labeled.filter(F.col("c_src") != F.col("c_dst"))
        .groupBy(F.col("c_src").alias("comm"))
        .agg(F.sum("weight").alias("cut"))
    )
    mods = (
        mod_p.join(cuts, "comm", "left")
        .crossJoin(F.broadcast(vol))
        .select(
            "comm",
            "p_mod",
            (F.coalesce(F.col("cut"), F.lit(0.0)) / F.col("vol")).alias("q"),
        )
    )
    node_term = vd.select(
        _plogp(F.col("degree") / F.col("vol")).alias("t")
    ).agg(F.sum("t").alias("sum_plogp_p"))
    mod_terms = mods.agg(
        F.sum("q").alias("q_tot"),
        F.sum(_plogp(F.col("q"))).alias("sum_plogp_q"),
        F.sum(_plogp(F.col("q") + F.col("p_mod"))).alias("sum_plogp_qp"),
        F.count("*").alias("n_modules"),
    )
    return (
        mod_terms.crossJoin(F.broadcast(node_term))
        .select(
            (
                _plogp(F.col("q_tot"))
                - 2.0 * F.col("sum_plogp_q")
                - F.col("sum_plogp_p")
                + F.col("sum_plogp_qp")
            ).alias("codelength"),
            F.col("n_modules"),
            (
                _plogp(F.col("q_tot")) - F.col("sum_plogp_q")
            ).alias("index_len"),
            (
                F.col("sum_plogp_qp")
                - F.col("sum_plogp_q")
                - F.col("sum_plogp_p")
            ).alias("module_len"),
        )
    )


def label_assortativity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman's attribute (categorical) assortativity coefficient:
    r = (Σ_i e_ii − Σ_i a_i·b_i) / (1 − Σ_i a_i·b_i) over the mixing
    matrix e of label pairs at the two ends of each edge (symmetric
    table ⇒ e is symmetric and a = b).  r = 1 when edges connect only
    equal labels, 0 at random mixing, negative when disassortative;
    NULL for the degenerate single-label graph (``try_divide``).

    ``labels`` is ``(vtx, label)``; any label type with equality works.
    One vertex-keyed join + two label aggregations.
    """
    sym = exclude_self_loops(symmetric_edges(edges))
    lab = labels.select("vtx", "label")
    both = (
        sym.join(
            lab.select(F.col("vtx").alias("src"), F.col("label").alias("l_src")),
            "src",
        )
        .join(
            lab.select(F.col("vtx").alias("dst"), F.col("label").alias("l_dst")),
            "dst",
        )
        .select("l_src", "l_dst", "weight")
    )
    tot = both.agg(F.sum("weight").alias("w_tot"))
    diag = (
        both.filter(F.col("l_src") == F.col("l_dst"))
        .agg(F.sum("weight").alias("w_diag"))
    )
    marg = (
        both.groupBy("l_src")
        .agg(F.sum("weight").alias("w_row"))
        .crossJoin(F.broadcast(tot))
        .select(((F.col("w_row") / F.col("w_tot")) ** 2).alias("ab"))
        .agg(F.sum("ab").alias("sum_ab"))
    )
    return (
        diag.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(marg))
        .select(
            F.try_divide(
                F.coalesce(F.col("w_diag"), F.lit(0.0)) / F.col("w_tot")
                - F.col("sum_ab"),
                F.lit(1.0) - F.col("sum_ab"),
            ).alias("assortativity")
        )
    )
