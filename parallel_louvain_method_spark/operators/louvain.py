"""Louvain community detection as bulk-synchronous Spark supersteps.

Replaces the reference's per-vertex MPI barrier protocol
(/root/reference/src/distcommunity.cpp:212-385 — Isend/Iprobe per move) with
the semantic redesign SURVEY.md §7 calls for: bulk-synchronous sweeps over
an immutable edge table, with community totals recomputed by aggregation
(no incremental mutation — reference src/community.cpp:33-45 mutates;
recompute is order-free and shuffle-parallel) and a zero-move sweep as the
convergence signal (src/community.cpp:98).

A level runs one of three execution strategies.  ``local_threshold`` is
the one switch between local and superstep (0 sends every non-empty
level to the superstep engine, a value above every level's row count
keeps every level local); ``superstep_engine="auto"`` picks the
superstep engine from the level's vertex count and id density.

1. **local** (≤ ``local_threshold`` symmetric rows): the whole level runs
   in the driver — ``local/sequential`` (≤ ``SEQUENTIAL_THRESHOLD``) is
   the reference-exact CSR kernel — ascending visit order, strict-> argmax,
   current-community-first tie break — the semantics the golden tests pin
   (tests/main_test.cpp:64-81); ``local/vectorized`` is the whole-graph
   numpy loop;
2. **superstep/barrier** (the production default while vertex ids are
   dense 0..n-1 and per-vertex state fits executor memory,
   ``plans.strategy.BARRIER_VERTICES``): the WHOLE level runs inside one
   Spark barrier stage — each task holds its src-partition's packed
   adjacency in memory for every sweep and exchanges per-sweep MOVER
   DELTAS over the barrier runtime's raw-TCP star, whose hub runs in the
   driver (functions/bsp.py), with the coordinator all-gather of the
   barrier scheduler as its fallback.  The edge table crosses the
   JVM→Python boundary exactly once per level; per-sweep traffic is
   O(movers).  This is the Spark-native re-expression of the reference's
   MPI protocol (src/distcommunity.cpp:212-385), with the barrier
   scheduler replacing MPI_Barrier and the star all-gather replacing its
   communicate-deltas rounds;
3. **superstep/sql** (auto-selected past that limit or on
   sparse ids, and the fallback whenever barrier scheduling is
   unavailable): every sweep is PURE DataFrame algebra — the small
   assignment/degree/totals tables broadcast-hash-join onto the edges,
   candidate weights aggregate with map-side partials, the gain/argmax
   runs as codegen'd expressions.  The edge table never moves; one
   partial-agg shuffle per sweep; no Python in the loop.  This is the
   10^9-vertex path: nothing per-vertex ever lands on one machine.

Shared machinery: hashed pseudo-random active halves per sweep (strict
parity LOCKS period-2 oscillations; hashed halves provably vary), plateau /
near-convergence exits that hand label churn to the next (much smaller)
coarsened level, per-sweep ``fresh_checkpoint`` lineage AND statistics
truncation (plain ``localCheckpoint`` keeps ``originStats``, whose
sizeInBytes the per-sweep self-joins square into a doubly-exponential
BigInt — see plans/lineage.py), the coarsen (a barrier or local level is
summed into the next graph in driver numpy, the local levels after it
need no Spark job; sql, refined or over-budget levels join the map onto
the edges; see :func:`louvain`), and per-level parquet checkpoints for
resume, which do not change the coarsen path (north rule; the reference
left this as a TODO, src/distcommunity.cpp:899).
"""

from __future__ import annotations

import math
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from parallel_louvain_method_spark.functions import bsp, kernels
from parallel_louvain_method_spark.operators.graph import (
    degrees as degrees_op,
    vertex_ids,
)
from parallel_louvain_method_spark.plans import strategy
from parallel_louvain_method_spark.plans.strategy import small_side
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint

ASSIGN_SCHEMA = "vtx long, comm long"
DEGREE_SCHEMA = "vtx long, degree double"
EDGE_SCHEMA = "src long, dst long, weight double"
SUPERSTEP_ENGINES = ("auto", "barrier", "sql")
# a local level at or under this many symmetric rows runs the
# reference-sequential kernel, past it the vectorized one
SEQUENTIAL_THRESHOLD = 150_000
# a sweep moving at most this share of the vertices ends the level
MIN_MOVES_FRAC = 0.001


@dataclass
class LevelStats:
    level: int
    n_vertices: int
    n_edges_sym: int
    sweeps: int = 0
    moves_per_sweep: list[int] = field(default_factory=list)
    # wall seconds per sweep (sql engine): the r3 hang manifested as
    # MONOTONICALLY GROWING sweep walls (compounding Catalyst stats, see
    # plans/lineage.py) — recording them makes 'tail sweeps stay flat' a
    # testable property instead of a debug-env printout
    sweep_wall_sec: list[float] = field(default_factory=list)
    modularity: float = float("nan")
    wall_sec: float = 0.0
    # which execution strategy actually ran the level ("local/sequential",
    # "local/vectorized", "barrier", "sql"):
    # audit telemetry — a resumed/checkpointed run shows which path produced
    # each level, and the auto-cutover (barrier -> sql past the vertex
    # limit) becomes a testable seam instead of an invisible branch
    engine: str = ""
    # barrier engine only, folded by functions/bsp.py ``run``: per phase
    # (unpack = the task's read of its Arrow batches, xchg_setup,
    # deg_exchange, prep, kernel_i, gather_i) the MAX wall over tasks — the
    # critical path, since the slowest task gates every barrier — and the
    # SUM (total work, conserved under repartitioning: the steal-robust
    # attribution for scaling runs, BENCH_SCALING.md §0).  A gather_i or
    # deg_exchange wall includes waiting for the previous phase's stragglers.
    phase_crit: dict = field(default_factory=dict)
    phase_sum: dict = field(default_factory=dict)


@dataclass
class LouvainResult:
    assignment: DataFrame  # vtx -> final community (original vertex ids)
    modularity: float
    levels: list[LevelStats]

    @property
    def n_communities(self) -> int:
        return self.assignment.select("comm").distinct().count()


def comm_totals(assign: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-community degree totals: ``tot[c] = Σ degree(v), v ∈ c``
    (recompute-by-aggregation form of src/community.cpp:33-45)."""
    return (
        assign.join(deg, "vtx")
        .groupBy("comm")
        .agg(F.sum("degree").alias("tot"), F.count("*").alias("size"))
    )


def modularity_df(
    sym_edges: DataFrame,
    assign: DataFrame,
    deg: DataFrame,
    m2: float,
    include_self_loops: bool = True,
) -> float:
    """Q = Σ_c in[c]/m2 − (tot[c]/m2)² (src/community.cpp:49-60).

    ``in[c]`` counts each internal undirected edge twice (both directions of
    the symmetric table).  Self-loops appear once in the deduped symmetric
    table; on coarse graphs they carry the community's internal weight
    (already doubled by :func:`coarsen`), so they MUST count toward ``in``
    or coarse-level modularity collapses.  The reference never adds
    self-loop weight to ``in`` (compute_neighbors skips them,
    src/community.cpp:134, and init zeroes ``in``) — pass
    ``include_self_loops=False`` to reproduce that quirk; on the golden
    level-0 graphs (no self-loops) both settings agree to 1e-15.
    """
    a_src = assign.select(F.col("vtx").alias("src"), F.col("comm").alias("c_src"))
    a_dst = assign.select(F.col("vtx").alias("dst"), F.col("comm").alias("c_dst"))
    # shuffle_hash on the (small, checkpointed-so-statless) assignment side:
    # without the hint the planner sort-merge-joins, re-sorting the big edge
    # side twice for a one-shot scalar.  dst joins FIRST: the sql engine's
    # edge cache is dst-partitioned, so that join moves only the assignment
    # and the big side is exchanged once (for the src join) instead of twice
    internal = (
        sym_edges.join(a_dst.hint("shuffle_hash"), "dst")
        .join(a_src.hint("shuffle_hash"), "src")
        .filter(F.col("c_src") == F.col("c_dst"))
    )
    if not include_self_loops:
        internal = internal.filter(F.col("src") != F.col("dst"))
    in_c = internal.groupBy(F.col("c_src").alias("comm")).agg(
        F.sum("weight").alias("in_w")
    )
    tot_c = comm_totals(assign, deg)
    row = (
        tot_c.join(in_c, "comm", "left")
        .na.fill({"in_w": 0.0})
        .filter(F.col("tot") > 0)
        .select(
            F.sum(
                F.col("in_w") / F.lit(m2) - F.pow(F.col("tot") / F.lit(m2), F.lit(2.0))
            ).alias("q")
        )
        .first()
    )
    return float(row["q"]) if row["q"] is not None else 0.0


def _barrier_superstep_level(
    spark: SparkSession,
    sym_edges: DataFrame,
    m2: float,
    n_vertices: int,
    max_sweeps: int,
    anneal: bool,
    stats: LevelStats,
    min_moves_frac: float,
    pre_partitioned: str | None = None,
) -> tuple[tuple, tuple] | None:
    """Whole-level barrier execution: ALL sweeps inside ONE Spark stage.

    The measured bottleneck of a per-sweep ``mapInPandas`` pass is not the
    kernel — it is Spark re-reading the cached edge table and
    re-serializing it JVM→Arrow→Python EVERY sweep (the kernel itself
    scales at ~1.0 efficiency 8→32 processes; tools/kernel_scaling.py).
    This engine pays the transfer ONCE: each barrier task reads its
    src-partition's adjacency from its Arrow batches and holds it in worker
    memory for the whole level, exchanging per-sweep MOVER DELTAS through
    the barrier runtime (functions/bsp.py) — the re-expression of the
    reference's MPI communicate-deltas design
    (src/distcommunity.cpp:212-385).

    Per-sweep traffic is O(movers), not O(edges): sweep 0 gathers ~n/2
    int32 pairs, decaying geometrically after.  Every task applies the
    same gathered deltas to its own full community array, so all tasks
    hold identical state and take identical exit decisions.

    Cluster requirement (standard for barrier mode): one concurrent slot
    per partition; partition count is capped at ``defaultParallelism``.
    Requires DENSE ids 0..n-1.  Returns the driver arrays ``((vtx, comm),
    (vtx, degree), (src_comm, dst_comm, weight))``, the last the tasks'
    coarse-edge partial sums, or None when the stage could not be
    scheduled (the caller runs the level on sql).
    """
    sc = spark.sparkContext
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        sc.defaultParallelism,
    )
    casted = sym_edges.select(
        F.col("src").cast("int").alias("src"),
        F.col("dst").cast("int").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    if (
        pre_partitioned == "src"
        and sym_edges.rdd.getNumPartitions() <= sc.defaultParallelism
    ):
        # caller already partitioned by src (the projection preserves row
        # placement): the barrier stage can consume it directly — the one
        # exchange of the level's biggest table disappears
        edges_p = casted
    else:
        edges_p = casted.repartition(n_parts, "src")

    nv = int(n_vertices)
    m2_ = float(m2)
    anneal_ = bool(anneal)
    max_sweeps_ = int(max_sweeps)
    mmf_ = float(min_moves_frac)

    def _level(comm, s, d, w):
        import math as _math
        import pickle

        import numpy as _np

        from parallel_louvain_method_spark.functions import kernels as _k

        # one-time degree exchange: src-partitioning makes per-task degree
        # partials EXACT for the task's own vertices (the reference's
        # ghost-degree Allgather, src/distcommunity.cpp init), so one round
        # of ~(srcs/partition) sparse pairs replaces a full aggregation
        # job + driver broadcast
        with comm.phase("deg_exchange"):
            s64 = s.astype(_np.int64)
            if len(s):
                my_v = _np.unique(s64)
                my_deg = _np.bincount(
                    _np.searchsorted(my_v, s64), weights=w, minlength=len(my_v)
                )
            else:
                my_v = _np.empty(0, _np.int64)
                my_deg = _np.empty(0, _np.float64)
            degv = _np.zeros(nv, dtype=_np.float64)
            for fr in comm.exchange(
                pickle.dumps((my_v.astype(_np.int32), my_deg), protocol=4)
            ):
                gv, gd = pickle.loads(fr)
                if len(gv):
                    degv[gv.astype(_np.int64)] = gd
        # structural prep (self-loop filter + row->position maps) ONCE per
        # level: it is community-independent, and leaving it inside the
        # kernel re-paid it every sweep (searchsorted alone measured ~5 s
        # per 8.7M-row call on this host)
        with comm.phase("prep"):
            pre = _k.prepare_dense_block(s, d, w, nv) if len(s) else None
        labels = _np.arange(nv, dtype=_np.int64)
        moves_log: list[int] = []
        best_moves, best_sweep = float("inf"), -1
        for sweep in range(max_sweeps_):
            with comm.phase(f"kernel_{sweep}"):
                min_gain = _math.exp(-(sweep + 1)) if anneal_ else 0.0
                tot = _np.bincount(labels, weights=degv, minlength=nv)
                if len(s):
                    out_v, out_c = _k.louvain_block_local_dense(
                        s, d, w, labels, degv, tot, m2_, min_gain,
                        max_inner=6, seed=sweep, pre=pre,
                    )
                    keep = labels[out_v] != out_c
                    mv_v = out_v[keep].astype(_np.int32)
                    mv_c = out_c[keep].astype(_np.int32)
                else:
                    mv_v = _np.empty(0, _np.int32)
                    mv_c = _np.empty(0, _np.int32)
                payload = pickle.dumps((mv_v, mv_c), protocol=4)
            # the superstep barrier: every task contributes its (disjoint —
            # src-partitioned) movers and receives everyone's
            with comm.phase(f"gather_{sweep}"):
                frames = comm.exchange(payload)
            total_moves = 0
            for fr in frames:
                gv, gc = pickle.loads(fr)
                if len(gv):
                    labels[gv.astype(_np.int64)] = gc.astype(_np.int64)
                total_moves += len(gv)
            moves_log.append(int(total_moves))
            # identical inputs -> identical exit decision on every task
            if total_moves == 0:
                break
            threshold = int(mmf_ * nv)
            if sweep > 0 and threshold > 0 and total_moves <= threshold:
                break
            if (
                sweep > 0
                and total_moves >= 50
                and total_moves >= 0.9 * moves_log[-2]
            ):
                break
            if total_moves < best_moves:
                best_moves, best_sweep = total_moves, sweep
            elif sweep - best_sweep >= 8:
                break
        # the slice under the final labels: the internal-weight partial for
        # Q, and the coarse-edge partial sums the driver sums again (the
        # reference's on-rank coarsen, src/distcommunity.cpp:781-825)
        ls, ld = labels[s64], labels[d.astype(_np.int64)]
        w_int = float(w[ls == ld].sum())
        # strided assignment slice: tasks hold identical state, so each
        # returns 1/n of it and the driver reassembles
        return (
            w_int,
            moves_log if comm.rank == 0 else None,
            labels[comm.rank::comm.n],
            (my_v, my_deg),
            _k.pair_sums(ls, ld, w),
        )

    res = bsp.run(edges_p, _level, "louvain", "sql")
    if res is None:
        return None
    outs, stats.phase_crit, stats.phase_sum = res

    comm_arr = np.empty(nv, dtype=np.int64)
    deg_arr = np.zeros(nv, dtype=np.float64)
    w_int_total = 0.0
    moves_log = []
    for rank, (w_int, mlog, labels, (dv, dd), _) in enumerate(outs):
        comm_arr[rank::len(outs)] = labels
        if len(dv):
            deg_arr[dv] = dd
        w_int_total += w_int
        if mlog is not None:
            moves_log = list(mlog)
    stats.moves_per_sweep.extend(int(m) for m in moves_log)
    stats.sweeps = len(moves_log)
    tot_final = np.bincount(comm_arr, weights=deg_arr, minlength=nv)
    stats.modularity = float(
        w_int_total / m2_ - np.sum((tot_final[tot_final > 0] / m2_) ** 2)
    )

    vtx = np.arange(nv, dtype=np.int64)
    labelled = tuple(np.concatenate([o[4][i] for o in outs]) for i in range(3))
    return (vtx, comm_arr), (vtx, deg_arr), labelled


def _sql_superstep_level(
    spark: SparkSession,
    sym_edges: DataFrame,
    deg: DataFrame,
    m2: float,
    n_vertices: int,
    max_sweeps: int,
    anneal: bool,
    stats: LevelStats,
    min_moves_frac: float,
    unique_pairs: bool = False,
    skew_salt: int = 0,
) -> DataFrame:
    """Superstep loop where every sweep is PURE DataFrame algebra.

    No Python touches the edge table: per sweep, the (small) assignment is
    broadcast-hash-joined onto the edges, candidate weights aggregate with
    map-side partials, and the argmax + gain test run as codegen'd
    expressions.  One sweep = one shuffle of the PARTIAL aggregation output
    (≪ edge count) — the edge table itself never moves.  This is the sweep
    engine that scales with executors: measured on this box, the
    Arrow/Python exchange path burns ~7 µs of CPU per row that does not
    parallelize past ~4M rows/s, while this path is ordinary whole-stage
    codegen.

    gain(v,c) = w(v→c) − (tot[c] − deg(v)·[c=comm(v)])·deg(v)/m2
    (src/community.cpp:151-159 after removal); movers need
    gain > max(gain_stay, min_gain) with ties to the lower community id.
    Hashed active halves per sweep break synchronous oscillation.
    """
    assign = fresh_checkpoint(deg.select("vtx", F.col("vtx").alias("comm")))

    # AQE re-plans every stage boundary of the ~8-stage sweep DAG on the
    # driver — measured at several SERIAL seconds per sweep, which caps
    # core-count scaling.  The sweep plan is fixed and its stats are known
    # (state tables are small, the edge side is cached), so adaptive
    # planning buys nothing inside the loop; restore the caller's setting
    # afterwards.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # runtime bloom-filter injection is also pointless inside the loop —
    # the sweep joins are already minimal and fixed-shape, every extra
    # creation-side aggregate is a per-sweep job; with the stats-free
    # checkpoint leaves (plans/lineage.py) the injector's size heuristics
    # see defaultSizeInBytes anyway, so pin the decision to off
    bloom_key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    bloom_before = spark.conf.get(bloom_key, "true")
    spark.conf.set(bloom_key, "false")
    try:
        return _sql_sweep_loop(
            spark, sym_edges, deg, m2, n_vertices, max_sweeps, anneal,
            stats, min_moves_frac, assign, unique_pairs=unique_pairs,
            skew_salt=skew_salt,
        )
    finally:
        # restore on EVERY exit path — an exception mid-sweep must not
        # leave AQE disabled for the rest of the shared session
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set(bloom_key, bloom_before)


def _sql_sweep_loop(
    spark: SparkSession,
    sym_edges: DataFrame,
    deg: DataFrame,
    m2: float,
    n_vertices: int,
    max_sweeps: int,
    anneal: bool,
    stats: LevelStats,
    min_moves_frac: float,
    assign: DataFrame,
    delta_frac: float = 0.05,
    unique_pairs: bool = False,
    skew_salt: int = 0,
) -> DataFrame:
    """The sweep loop of the at-scale sql engine.  Three design rules make
    it SCALE WITH EXECUTORS (r2's measured failure mode was serial
    per-sweep work that no core count amortizes):

    1. **No driver broadcasts inside the loop.**  Building a megarow
       broadcast hash relation of the per-vertex state is SERIAL driver
       work (~seconds per sweep at 10^6 vertices).  Every state-onto-edges
       join is hinted ``shuffle_hash``: the state table exchanges (tiny,
       fully parallel) and each task builds its partition's hash map; the
       cached edge side's partitioning (``repartition(n, "dst")`` in the
       caller) already satisfies the join's required distribution, so the
       BIG side never moves.
    2. **One consolidated state table (vtx, comm, degree, moved).**  Degree
       is static per level — folding it in once removes two joins per
       sweep; ``tot_dst`` rides along on the dst-state into the edge join
       (recovered with ``max`` in the same aggregation), removing the
       separate totals join on the candidate side.
    3. **Delta active sets.**  Once a sweep moves fewer than ``delta_frac``
       of the vertices, only movers ∪ neighbors(movers) can change their
       argmax through the w(v→c) term — the next sweep semi-joins the edge
       table against that (small, geometrically decaying, broadcast) set,
       turning tail sweeps from O(E) scans into O(E_local).  Both driver
       broadcasts are gated by ABSOLUTE row caps (``delta_movers_cap`` /
       ``delta_active_cap``): the fractional gate alone is 50M movers at
       10^9 vertices, and a single high-degree mover makes the active set
       unbounded by the mover count — past either cap the sweep runs full
       instead (the one sanctioned broadcast family in this loop is
       therefore bounded by construction).  The filter is
       the standard delta-Louvain approximation (a vertex affected ONLY
       through a totals change is deferred); a zero-move FILTERED sweep
       therefore triggers one FULL confirmation sweep; a SECOND zero-move
       filtered sweep ends the level (the residual is threshold-hovering
       label churn that the far smaller coarse level resolves).

    Skew note (10^9-vertex design point): the per-sweep ``state ⋈ tot``
    join clusters by community id, so a mega-community concentrates its
    members' STATE rows (~16 B each) in one task — at 10^9 vertices and a
    50% mega-community that is ~8 GB in one partition.  The edge-side
    joins are unaffected (keyed by vtx), communities that large only
    emerge near convergence, and the coarsen cadence caps level length.
    ``skew_salt > 1`` turns on EXPLICIT SALTING of that join: the state
    side gains ``salt = xxhash64(vtx) mod S`` and the (small) totals side
    replicates S× via a broadcast cross join, so a mega-community's state
    rows spread over S tasks instead of one.  Pure plan algebra — no
    per-sweep driver work, no semantic change (the joined rows are
    identical; only their placement moves), at the cost of an S×-larger
    totals exchange — so it stays opt-in for unskewed runs.  The
    alternative is re-enabling AQE inside the loop
    (``spark.sql.adaptive.enabled``) for runtime skew-join splitting at
    the cost of per-sweep driver re-planning.
    """
    sh = lambda df: df.hint("shuffle_hash")  # noqa: E731
    # static neighbor COUNT per vertex (one extra O(E)→O(n) partial-agg at
    # level start): Σ nc over a sweep's movers is an exact upper bound on
    # |movers ∪ neighbors(movers)|, so the delta-broadcast safety gate
    # below reads it from the tiny state table instead of paying an extra
    # edge-table scan + checkpoint per delta sweep (measured: the r4
    # count-the-active-set gate cost ~0.05 efficiency at 87M edges)
    nbr_cnt = sym_edges.groupBy(F.col("dst").alias("vtx")).agg(
        F.count("*").alias("nc")
    )
    state = fresh_checkpoint(
        assign.join(deg, "vtx")
        .join(sh(nbr_cnt), "vtx", "left")
        .select(
            "vtx",
            "comm",
            "degree",
            F.coalesce("nc", F.lit(0)).alias("nc"),
            F.lit(1).alias("moved"),
        )
    )

    # absolute caps on the delta machinery's DRIVER-SIDE broadcasts: the
    # mover set is collected to build the neighbor semi-join and the
    # active set is collected for the edge filter — both are serial driver
    # memory, so the fractional gate (delta_frac·n, which is 50M rows at
    # the 10^9-vertex design point) must not be the only bound.  Past
    # either cap the sweep simply runs full — correct, just unfiltered.
    delta_movers_cap = 1_000_000
    delta_active_cap = 4_000_000

    # explicit-salting build side (see Skew note): a tiny S-row relation
    # broadcast-cross-joined onto the totals each sweep replicates every
    # (comm, tot) row S times executor-side — constant plan source across
    # sweeps, so the codegen cache stays hot
    salts = (
        spark.range(skew_salt).select(F.col("id").cast("int").alias("salt"))
        if skew_salt > 1
        else None
    )

    zero_streak = 0
    best_moves = float("inf")
    best_sweep = -1
    prev_moves = n_vertices
    zero_delta_events = 0
    force_full = False  # confirmation sweep: disable delta AND half filters
    churn_streak = 0  # consecutive sweeps at <= max(2, threshold) movers
    for sweep in range(max_sweeps):
        t_sw = time.monotonic()
        min_gain = math.exp(-(sweep + 1)) if anneal else 0.0
        # Per-sweep scalars (hash seed, anneal margin, m2) ride as DATA —
        # a 1-row broadcast cross join — NEVER as literals.  A literal is
        # pasted into the whole-stage-codegen SOURCE, so every sweep
        # compiled a fresh janino class per stage; freshly loaded classes
        # run interpreted until the JIT catches up, measured here as
        # random 10-40x per-sweep CPU inflation (task Executor CPU Time
        # grew 2.7→3.9 s on identical 5.7k-row inputs while a pure-CPU
        # probe in a sibling process stayed flat; disabling codegen
        # removed every stall).  With the scalars as columns the sweep's
        # plan SOURCE is identical across sweeps AND levels (m2 was the
        # only cross-level literal), the codegen cache hits, and each of
        # the loop's ~5 stage shapes compiles exactly once per session —
        # which at the 10^9-vertex design point also removes the
        # per-sweep serial driver compile latency.
        # swp is INT on purpose: xxhash64 hashes by input type, and the
        # pre-params code seeded with F.lit(sweep) (int32) — keeping the
        # type keeps every historical half-assignment bit-identical
        params = spark.createDataFrame(
            [(sweep, float(min_gain), float(m2))],
            "swp int, min_gain double, m2 double",
        )
        tot = state.groupBy("comm").agg(F.sum("degree").alias("tot"))
        if salts is not None:
            # salted skew join: state exchanges on (comm, salt) so one
            # mega-community spreads over skew_salt tasks; the totals side
            # (≤ one row per community) pays the S× replication
            state2 = (
                state.withColumn(
                    "salt",
                    F.pmod(F.xxhash64("vtx"), F.lit(skew_salt)).cast("int"),
                )
                .join(sh(tot.crossJoin(F.broadcast(salts))), ["comm", "salt"])
                .select("vtx", "comm", "degree", "tot")
            )
        else:
            state2 = state.join(sh(tot), "comm").select(
                "vtx", "comm", "degree", "tot"
            )

        # sweep 0 activates EVERYONE (same rule as the local vectorized
        # kernel): under hashed halves a vertex first moves at its first
        # active sweep, so the mover count halves per sweep and the level
        # stretches to ~log(n) full-table sweeps — measured exactly that.
        # A full synchronous first sweep settles ~all vertices at once;
        # the pointer-jump collapse below unwinds the pair-swap hazard
        # that the halves exist to prevent, and later sweeps keep halves
        # for the (now small) correction phase.
        active_edges = sym_edges.filter(F.col("src") != F.col("dst"))
        if sweep > 0 and not force_full:
            # a CONFIRMATION sweep must examine EVERY vertex — the
            # two-zero-delta exit below is only sound if the full sweep it
            # forced really was full, so the hashed-half filter is skipped
            # along with the delta filter.  The sweep seed arrives via the
            # 1-row params BNLJ (appends swp in-stage; a 1-row build side
            # preserves the edge cache's dst partitioning) so the filter's
            # generated source is sweep-invariant.
            active_edges = (
                active_edges.crossJoin(F.broadcast(params.select("swp")))
                .filter(
                    F.pmod(F.xxhash64("src", F.col("swp")), F.lit(2)) == 0
                )
                .drop("swp")
            )
        delta_sweep = (
            not force_full
            and 0 < prev_moves <= min(delta_frac * n_vertices, delta_movers_cap)
        )
        if delta_sweep:
            # bound BEFORE building the broadcast: the mover count bounds
            # nothing about the neighborhood (one high-degree mover can
            # pull in ~all vertices), and a multi-GB driver-built
            # broadcast is exactly what this loop forbids.  Σ nc + |movers|
            # ≥ |movers ∪ neighbors(movers)| exactly, read from the tiny
            # state table — no edge scan spent deciding.
            movers = state.filter(F.col("moved") == 1)
            row = movers.agg(F.sum("nc"), F.count("*")).first()
            bound = int(row[0] or 0) + int(row[1] or 0)
            if bound <= delta_active_cap:
                mv = movers.select("vtx")
                nbrs = sym_edges.join(
                    F.broadcast(mv.withColumnRenamed("vtx", "dst")), "dst"
                ).select("src")
                active_vtx = nbrs.union(
                    mv.withColumnRenamed("vtx", "src")
                ).distinct()
                active_edges = active_edges.join(F.broadcast(active_vtx), "src")
            else:
                delta_sweep = False  # neighborhood too big — run full
        full_coverage = sweep == 0 or force_full  # no half/delta filter
        force_full = False

        s_dst = state2.select(
            F.col("vtx").alias("dst"),
            F.col("comm").alias("dst_comm"),
            F.col("tot").alias("tot_dst"),
        )
        s_src = state2.crossJoin(
            F.broadcast(params.select("min_gain", "m2"))
        ).select(
            F.col("vtx").alias("src"),
            F.col("comm").alias("src_comm"),
            F.col("degree"),
            F.col("tot").alias("tot_own"),
            "min_gain",
            "m2",
        )
        if sweep == 0 and unique_pairs:
            # sweep-0 fast path: every community is a singleton, so the
            # candidate aggregation below groups NOTHING — valid ONLY
            # under the caller-declared ``unique_pairs`` invariant (one
            # row per (src, dst); set-dedup alone keeps parallel edges
            # with distinct weights, whose w(v→{dst}) must SUM as in the
            # reference's compute_neighbors).  Then (src, dst_comm) =
            # (src, dst) is unique, w(v→{dst}) is the single edge weight
            # and tot({dst}) is dst's degree.  Skipping the groupBy
            # removes one full E-row exchange from the most expensive
            # sweep of the level.
            cand = (
                active_edges.join(sh(s_dst), "dst")
                .select(
                    "src",
                    "dst_comm",
                    F.col("weight").alias("w_to"),
                    F.col("tot_dst").alias("tot"),
                )
                .join(sh(s_src), "src")
            )
        else:
            cand = (
                active_edges.join(sh(s_dst), "dst")
                .groupBy("src", "dst_comm")
                # tot_dst is constant within a (dst_comm) group — max()
                # recovers it in the SAME aggregation, saving a per-sweep
                # totals join
                .agg(F.sum("weight").alias("w_to"), F.max("tot_dst").alias("tot"))
                .join(sh(s_src), "src")
            )
        is_own = F.col("dst_comm") == F.col("src_comm")
        gain = (
            F.col("w_to")
            - (F.col("tot") - F.when(is_own, F.col("degree")).otherwise(0.0))
            * F.col("degree")
            / F.col("m2")
        )
        scored = cand.withColumn("gain", gain)
        per_src = scored.groupBy("src").agg(
            F.max_by(
                F.col("dst_comm"),
                F.struct(F.col("gain"), (-F.col("dst_comm")).alias("nc")),
            ).alias("best_comm"),
            F.max("gain").alias("best_gain"),
            F.max(F.when(is_own, F.col("gain"))).alias("gain_own_cand"),
            F.first("src_comm").alias("src_comm"),
            F.first(
                -(F.col("tot_own") - F.col("degree"))
                * F.col("degree")
                / F.col("m2")
            ).alias("gain_stay_base"),
            F.first("min_gain").alias("min_gain"),
        )
        # acceptance: beat max(gain_stay, 0) by MORE than min_gain.  The
        # 0-floor is the reference's best_increase = 0.0 init
        # (src/community.cpp:108, src/distcommunity.cpp:551): never move
        # INTO a negative-gain community even when staying scores worse.
        # min_gain is the anneal temperature margin (A4,
        # src/distcommunity.cpp:549-562; temp = exp(-(sweep+1)),
        # src/distcommunity.cpp:227-231,383); min_gain == 0 when anneal is
        # off, reducing to the plain strict > of src/community.cpp:106-118.
        gain_stay = F.coalesce(F.col("gain_own_cand"), F.col("gain_stay_base"))
        accept = F.col("best_gain") > F.greatest(
            gain_stay, F.lit(0.0)
        ) + F.col("min_gain")
        proposals = per_src.filter(accept).select(
            F.col("src").alias("vtx"), F.col("best_comm").alias("new_comm")
        )

        upd = state.join(sh(proposals), "vtx", "left").select(
            "vtx",
            F.col("comm").alias("old_comm"),
            F.col("new_comm"),
            F.coalesce("new_comm", "comm").alias("mid_comm"),
            "degree",
            "nc",
        )
        # label-chase collapse (pointer jumping, the CC trick applied to
        # community labels): a community is labeled by its representative
        # vertex's id, so when v adopts label u in the SAME sweep that
        # vertex u adopts label w, v would otherwise chase u through one
        # sweep per hop — the measured mover cascade halves per sweep and
        # stretches the level to ~log(n) full-table sweeps.  One
        # MOVERS-sized self-join follows the label one hop
        # (comm <- comm(comm)); a mutual swap (u<->w, the synchronous
        # oscillation case) maps both back to themselves, which also
        # neutralizes the pair-swap failure mode.  BOTH sides are
        # restricted to vertices that moved THIS sweep: a settled member
        # of community u must NOT be dragged along when u departs (it
        # keeps the now-orphaned label — standard synchronous label-based
        # Louvain; un-scoped, the jump applied gain-unchecked bulk merges
        # of whole settled communities, ADVICE r3 #1), and chasing into a
        # label whose representative moved in an EARLIER sweep would
        # target a community the mover never scored.
        jump = upd.filter(F.col("new_comm").isNotNull()).select(
            F.col("vtx").alias("mid_comm"),
            F.col("mid_comm").alias("jump_comm"),
        )
        chased = F.when(
            F.col("new_comm").isNotNull(),
            F.coalesce("jump_comm", "mid_comm"),
        ).otherwise(F.col("mid_comm"))
        state = fresh_checkpoint(
            upd.join(sh(jump), "mid_comm", "left")
            .select(
                "vtx",
                chased.alias("comm"),
                "degree",
                "nc",
                (chased != F.col("old_comm")).cast("int").alias("moved"),
            )
        )
        moves = int(state.agg(F.sum("moved")).first()[0] or 0)
        stats.moves_per_sweep.append(moves)
        stats.sweep_wall_sec.append(time.monotonic() - t_sw)
        stats.sweeps = sweep + 1
        prev_moves = moves

        if moves == 0 and full_coverage:
            # a zero-move sweep that examined EVERY vertex is a global
            # fixed point — no streak needed
            break
        if moves == 0 and delta_sweep:
            zero_delta_events += 1
            if zero_delta_events >= 2:
                # TWICE the delta filter has declared every mover
                # neighborhood quiet while a full confirmation still found
                # totals-driven stragglers: that residual is label churn
                # oscillating around the exit threshold, and each further
                # confirmation is a full-table sweep.  End the level — the
                # coarsened next level (orders of magnitude smaller)
                # resolves the churn, the same division of labor as the
                # plateau exit.
                break
            # a zero-move FILTERED sweep is not a global fixed point — run
            # a full confirmation sweep: force_full disables BOTH the
            # delta semi-join and the hashed-half filter (a confirmation
            # that rechecks only half the vertices cannot confirm,
            # ADVICE r3 #3)
            force_full = True
            prev_moves = n_vertices
            zero_streak = 0
            continue
        zero_streak = zero_streak + 1 if moves == 0 else 0
        if zero_streak >= 3:
            break
        # floor at 1: on graphs tiny enough that the fractional threshold
        # floors to 0 (n < 1/min_moves_frac) a 1-mover tail can otherwise
        # churn for dozens of sweeps (r3's observed 8,3,2,3,... tail) —
        # one residual mover is always below any meaningful exit bar
        threshold = max(1, int(min_moves_frac * n_vertices))
        if sweep > 0 and moves <= threshold:
            break
        # small-graph churn guard: a handful of vertices trading 2-3
        # moves per sweep for dozens of sweeps — five consecutive such
        # sweeps end the level (backstop behind the floored threshold)
        churn_streak = churn_streak + 1 if 0 < moves <= max(2, threshold) else 0
        if churn_streak >= 5:
            break
        # plateau: <10% of the previous sweep's movers retired — but only
        # against a NONZERO previous sweep (a zero-move delta sweep just
        # forced a full confirmation; its count is not a retirement rate)
        if (
            sweep > 0
            and moves >= 50
            and stats.moves_per_sweep[-2] > 0
            and moves >= 0.9 * stats.moves_per_sweep[-2]
        ):
            break
        if moves < best_moves:
            best_moves, best_sweep = moves, sweep
        elif sweep - best_sweep >= 8:
            break
    return state.select("vtx", "comm")


def louvain_level(
    spark: SparkSession,
    sym_edges: DataFrame,
    m2: float | None = None,
    max_sweeps: int = 100,
    anneal: bool = False,
    level_no: int = 0,
    local_threshold: int = 1_500_000,
    min_moves_frac: float = MIN_MOVES_FRAC,
    superstep_engine: str = "auto",
    skew_salt: int = 0,
) -> tuple[DataFrame, DataFrame, float, LevelStats]:
    """One Louvain level.  Returns (assign, deg, m2_used, stats).  The
    barrier and local engines end in the driver, so their ``assign`` (and
    the barrier engine's ``deg``) is a DataFrame over driver arrays, built
    without a Spark job; elsewhere ``deg`` is a lazy DataFrame.

    ``sym_edges`` must already be symmetric + deduped; parallel edges with
    distinct weights may remain and their weights sum.  ``m2`` defaults to
    Σ degree = total symmetric weight, which equals the reference's
    ``2·ecount`` on unit-weight simple graphs (SURVEY.md §1.5) and is the
    standard 2m on weighted/coarse graphs.  The level first runs the
    vertex check :func:`louvain` runs on its input (one aggregation over
    the distinct vertex set): its count and id density feed the engine
    choice.

    ``local_threshold`` picks where the level runs:
    - at most ``local_threshold`` symmetric rows — the whole level runs to
      convergence in the driver.  At or below ``SEQUENTIAL_THRESHOLD``
      rows it uses the reference-sequential kernel (ascending visit order
      — the golden-test semantics); above, the whole-graph vectorized
      numpy loop.  No Spark job per sweep — per-job overhead dominates
      below ~10^6 edges, and coarsening shrinks every real graph into
      this regime after a level or two;
    - more rows — bulk-synchronous supersteps on the engine that
      ``superstep_engine`` names: ``"barrier"`` (whole level in one
      barrier stage; needs dense ids 0..n-1 and per-vertex state under
      ``strategy.BARRIER_VERTICES``), ``"sql"`` (pure DataFrame sweeps),
      or ``"auto"`` (barrier while it fits and no task holds more than
      ``strategy.BARRIER_ROWS_PER_TASK`` rows, else sql).  Whenever the
      barrier engine does not fit or cannot be scheduled the level runs
      on sql; a worker-side error inside the barrier stage propagates.

    ``local_threshold=0`` therefore sends every non-empty level to the
    superstep engine.
    """
    n_vertices, dense = _vertex_check(sym_edges)
    assign, deg, m2, stats, _ = _level(
        spark, sym_edges, n_vertices=n_vertices, dense=dense, m2=m2,
        max_sweeps=max_sweeps, anneal=anneal, level_no=level_no,
        local_threshold=local_threshold, min_moves_frac=min_moves_frac,
        superstep_engine=superstep_engine, skew_salt=skew_salt,
    )
    return _frame(spark, assign), _frame(spark, deg, DEGREE_SCHEMA), m2, stats


def _vertex_check(edges: DataFrame) -> tuple[int, bool]:
    """The distinct vertex count of ``edges`` and whether its ids are
    dense, exactly 0..n-1: max == n-1 AND min >= 0 (a negative id can hide
    behind a matching max, e.g. {-1, 0, 1, 3}, and would wrap numpy
    indexing in the barrier engine).  One aggregation over the distinct
    vertex set; an empty graph counts as dense."""
    row = vertex_ids(edges).agg(F.count("*"), F.max("v"), F.min("v")).first()
    n = int(row[0] or 0)
    return n, row[1] is None or (int(row[1]) == n - 1 and int(row[2]) >= 0)


def _level(
    spark: SparkSession,
    sym_edges: DataFrame,
    *,
    n_vertices: int,
    dense: bool,
    m2: float | None,
    max_sweeps: int,
    anneal: bool,
    level_no: int,
    local_threshold: int,
    min_moves_frac: float,
    superstep_engine: str,
    skew_salt: int,
    pre_partitioned: str | None = None,
    unique_pairs: bool = False,
) -> tuple:
    """:func:`louvain_level` on a graph of ``n_vertices`` vertices whose
    ids are ``dense`` 0..n-1 or not, except that the engines that end in
    the driver hand back driver arrays instead of DataFrames: the barrier
    and local engines return ``assign`` as a ``(vtx, comm)`` array pair,
    and the barrier engine ``deg`` as ``(vtx, degree)``; :func:`_frame`
    turns either form into a DataFrame.  The fifth value, None on sql, is
    their edges under the final labels, ``(src_comm, dst_comm, weight)``,
    from which :func:`louvain` sums the next level's graph.

    Two more facts only :func:`louvain` knows about its own tables:
    ``pre_partitioned`` names the key (``"src"`` or ``"dst"``) ``sym_edges``
    is already partitioned and cached on, which saves the engine that
    needs that key its exchange; ``unique_pairs`` declares that (src, dst)
    is unique (parallel edges weight-summed, as level 0's build and every
    coarsen guarantee), which lets the sql engine skip sweep 0's
    aggregation.  Neither changes the result."""
    if superstep_engine not in SUPERSTEP_ENGINES:
        raise ValueError(
            f"superstep_engine must be one of {SUPERSTEP_ENGINES}, "
            f"got {superstep_engine!r}"
        )
    t0 = time.monotonic()
    spark_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # ONE count+sum scan for the row count and m2; no degree shuffle here —
    # each engine derives degrees on its own partitioning
    row = sym_edges.agg(F.count("*"), F.sum("weight")).first()
    n_edges_sym = int(row[0] or 0)
    if m2 is None:
        m2 = float(row[1] or 0.0)
    stats = LevelStats(level=level_no, n_vertices=n_vertices, n_edges_sym=n_edges_sym)

    if n_edges_sym <= local_threshold:
        # the kernel runs in the driver on one Arrow toPandas; it sorts
        # internally, so the arrival order of the rows does not matter
        pdf = sym_edges.select("src", "dst", "weight").toPandas()
        assign, labelled = _local_level(
            tuple(pdf[c].to_numpy() for c in ("src", "dst", "weight")),
            m2, max_sweeps, anneal, stats,
        )
        stats.wall_sec = time.monotonic() - t0
        # lazy; callers rarely consume it
        return assign, degrees_op(sym_edges), m2, stats, labelled

    # Engine auto-selection (the same broadcast-vs-shuffle decision Catalyst
    # makes for dimension tables): while per-vertex state fits executor
    # memory AND ids are dense 0..n-1, the barrier engine holds the level
    # in worker memory and collapses convergence into a few supersteps;
    # past the limit, or on sparse ids, the sql engine's
    # broadcast-join sweeps take over.
    #
    # Second gate, PER-TASK adjacency size: a barrier task materializes its
    # whole src-partition's adjacency in worker memory (that is the point —
    # one JVM→Python transfer per level), so the binding constraint is rows
    # per task, not total edges (strategy.BARRIER_ROWS_PER_TASK has the
    # measurement).  The gate self-scales with the cluster: more executors
    # → smaller slices → barrier stays viable, the same "fits in executor
    # memory" rule as the vertex limit.
    engine = superstep_engine
    if engine in ("auto", "barrier"):
        fits = dense and n_vertices <= strategy.BARRIER_VERTICES
        if engine == "auto":
            n_parts_eff = max(
                1, min(spark_parts, spark.sparkContext.defaultParallelism)
            )
            fits = fits and (
                n_edges_sym / n_parts_eff <= strategy.BARRIER_ROWS_PER_TASK
            )
        engine = "barrier" if fits else "sql"

    if engine == "barrier" and not bsp.barrier_supported(spark.sparkContext):
        # cheap upfront probe (once per SparkContext): a cluster that cannot
        # schedule ANY barrier stage (dynamic allocation, too few slots)
        # must not pay the slot-check retry loop on the real job
        print(
            "[louvain] barrier scheduling unavailable (probe failed); "
            "using sql",
            file=sys.stderr,
        )
        engine = "sql"

    if engine == "barrier":
        # whole level in ONE barrier stage; None means the stage could not
        # be scheduled (the runtime said so on stderr) and the level runs
        # on sql.  A worker-side error raises out of the runtime.
        out = _barrier_superstep_level(
            spark, sym_edges, m2, n_vertices,
            max_sweeps, anneal, stats, min_moves_frac,
            pre_partitioned=pre_partitioned,
        )
        if out is not None:
            assign, deg, labelled = out
            stats.engine = "barrier"
            stats.wall_sec = time.monotonic() - t0
            return assign, deg, m2, stats, labelled

    # pre-partition by dst: the per-sweep assignment join hits dst, and a
    # cached repartition exposes its outputPartitioning to the planner so
    # the (large) edge side is never re-shuffled inside the loop.  When the
    # CALLER already built the table partitioned+cached on dst
    # (pre_partitioned — the multilevel driver does at level 0), skipping
    # the repartition here saves one full exchange + duplicate cache of the
    # biggest table of the run.  The caches this level makes are released
    # once Q is computed: the returned assignment is checkpointed, and the
    # returned degree table is lazy.
    cached = []
    edges_p = sym_edges
    if pre_partitioned != "dst":
        edges_p = sym_edges.repartition(spark_parts, "dst").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cached.append(edges_p)
    deg = degrees_op(edges_p).persist(StorageLevel.MEMORY_AND_DISK)
    cached.append(deg)
    try:
        # pure-SQL supersteps: broadcast-hash-join the small state onto the
        # edges, codegen'd gain/argmax, one partial-agg shuffle per sweep —
        # the edge table never moves and no Python touches it
        assign = _sql_superstep_level(
            spark, edges_p, deg, m2, n_vertices,
            max_sweeps, anneal, stats, min_moves_frac,
            unique_pairs=unique_pairs, skew_salt=skew_salt,
        )
        stats.modularity = modularity_df(edges_p, assign, deg, m2)
    finally:
        for df in cached:
            df.unpersist()
    stats.engine = "sql"
    stats.wall_sec = time.monotonic() - t0
    return assign, degrees_op(sym_edges), m2, stats, None


def _local_level(
    edges: tuple, m2: float, max_sweeps: int, anneal: bool, stats: LevelStats
) -> tuple[tuple, tuple]:
    """The local engine on driver arrays ``(src, dst, weight)``; fills
    ``stats`` but its wall, returns ``_level``'s assign and fifth value."""
    s, d, w = edges
    local_kernel = "sequential" if len(s) <= SEQUENTIAL_THRESHOLD else "vectorized"
    stats.engine = f"local/{local_kernel}"
    if len(s) == 0:
        stats.modularity = 0.0
        empty = np.empty(0, dtype=np.int64)
        return (empty, empty), (empty, empty, np.empty(0, dtype=np.float64))
    fn = (
        kernels.louvain_sequential_edges
        if local_kernel == "sequential"
        else kernels.louvain_vectorized_edges
    )
    v, c, sweeps, q, improved = fn(
        s, d, w, m2=m2, max_sweeps=max_sweeps, anneal=anneal
    )
    stats.sweeps = int(sweeps)
    # the kernel already computed level modularity over its own CSR
    stats.modularity = float(q)
    # kernel-internal sweeps aren't individually observable; record the
    # level's total move signal so the multilevel driver can stop
    stats.moves_per_sweep = [1 if improved else 0] * stats.sweeps
    return (v, c), (c[np.searchsorted(v, s)], c[np.searchsorted(v, d)], w)


def _frame(spark: SparkSession, cols, schema: str = ASSIGN_SCHEMA) -> DataFrame:
    """A driver-side tuple of column arrays as a DataFrame of ``schema``
    (no job runs); a DataFrame passes through unchanged."""
    if isinstance(cols, DataFrame):
        return cols
    names = [f.split()[0] for f in schema.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(dict(zip(names, cols))), schema=schema
    )


def _dense_comm_map(assign: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """Distributed community renumber: (vtx -> new community, comm ->
    new_comm, k), new ids dense 0..k-1 in sorted order (``dense_ids``)."""
    from parallel_louvain_method_spark.operators.graph import dense_ids

    cmap, k = dense_ids(assign.select(F.col("comm").alias("v")))
    cmap = cmap.withColumnsRenamed({"v": "comm", "new_id": "new_comm"})
    amap = assign.join(cmap.hint("shuffle_hash"), "comm").select(
        "vtx", F.col("new_comm").alias("comm")
    )
    return amap, cmap, k


def _coarse_edges(
    sym_edges: DataFrame, amap: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """The community graph of ``sym_edges`` under the vtx -> dense
    community map ``amap``: both endpoints relabeled, weights summed per
    (src, dst); internal edges become self-loops.  The map side is
    broadcast while it has at most ``strategy.BROADCAST_MAP_ROWS`` rows
    (``n_rows``) and shuffle-hashed past that or when its size is unknown,
    so the planner never sort-merges the edge table."""
    a_src = amap.select(F.col("vtx").alias("src"), F.col("comm").alias("c_src"))
    a_dst = amap.select(F.col("vtx").alias("dst"), F.col("comm").alias("c_dst"))
    return (
        sym_edges.join(small_side(a_src, n_rows, strategy.BROADCAST_MAP_ROWS), "src")
        .join(small_side(a_dst, n_rows, strategy.BROADCAST_MAP_ROWS), "dst")
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )


def coarsen(
    sym_edges: DataFrame, assign: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Build the community graph (src/community.cpp:162-201 /
    src/distcommunity.cpp:766-915): communities renumbered dense 0..k-1 by
    sorted id (prefix-sum renumbering W2), edge weights summed, internal
    edges becoming self-loops whose weight is 2× internal weight (each
    internal edge contributes both directions).

    Returns (coarse_sym_edges, comm_renumber_map[comm, new_comm]).
    """
    amap, cmap, _ = _dense_comm_map(assign)
    return _coarse_edges(sym_edges, amap), cmap


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    max_levels: int = 20,
    max_sweeps: int = 100,
    min_q_gain: float = 1e-6,
    anneal: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    local_threshold: int = 1_500_000,
    superstep_engine: str = "auto",
    n_vertices: int | None = None,
    assume_dense: bool = False,
    skew_salt: int = 0,
    refine_levels: bool = False,
) -> LouvainResult:
    """Multi-level Louvain over an arbitrary edge table.

    ``refine_levels=True`` runs Leiden-style connectivity refinement
    (operators/components.py:refine_communities) on every level's
    partition before coarsening — the "From Louvain to Leiden" §2
    guarantee that no community's induced subgraph is disconnected
    (splitting one never decreases THAT level's Q, so each level's
    modularity is recomputed post-split and only improves in place —
    but the refined coarse graph steers later levels onto a different
    trajectory, so the END-TO-END Q may land slightly above or below
    plain Louvain's; what is guaranteed is connectivity of every flat
    community).  This is the paper's connectivity guarantee, not its
    full randomized merge refinement; the cost is one
    connected-components run per level over the strictly sparser
    intra-community subgraph.

    The flat assignment (original vtx -> final community) is maintained by
    composing each level's coarsening map.  One rule picks how that map is
    built: a level with at most ``strategy.BARRIER_VERTICES`` vertices
    (the budget that admits the barrier engine) renumbers its communities
    in driver numpy, a larger one with the distributed ``dense_ids``.  A
    barrier or local level under the budget is summed into the next graph
    in numpy, from the barrier tasks' partial sums or its own rows; the
    levels the local engine takes after it run their kernel on those
    arrays with no Spark job.  Sql levels, larger ones and refined labels
    (not the labels the edges were summed under) join the map onto the
    edge table.  Both give the same graph (exactly for integer weights).
    While the flat table stays in numpy it is composed through a lookup
    table, otherwise (level 0 past the budget, or a flat loaded on resume)
    by one join.  When ``checkpoint_dir`` is set, each level's coarse edges
    + flat assignment + metrics land in ``<dir>/level=<k>/`` and
    ``resume=True`` restarts after the last complete level (S7; the
    reference's unimplemented TODO, src/distcommunity.cpp:899);
    checkpointing does not change the coarsen path.

    ``local_threshold`` and ``superstep_engine`` pick each level's engine
    by :func:`louvain_level`'s rules; ``local_threshold=0`` runs every
    non-empty level on the superstep engine.  ``skew_salt > 1`` enables
    explicit salting of the sql engine's per-sweep state⋈totals join (the
    one join in the engine keyed by community id, hence the one a
    mega-community skews) — see :func:`_sql_sweep_loop`'s Skew note for
    the mechanics and cost model.

    ``n_vertices`` + ``assume_dense=True`` skip the level-0 dense-id check
    (one count-distinct over the full vertex set) when the PRODUCER
    guarantees dense 0..n-1 ids — true for every `build_*_graph` /
    `densify` output (sources/corpus.py), whose renumber map's row count
    is exactly ``n_vertices``.  Wrong hints corrupt results; omit them for
    arbitrary input.

    Level 0 always symmetrizes, set-dedups and weight-sums ``edges``; the
    pass is idempotent on a table that already is that representation
    (coarsen output, a level checkpoint), which gives the same partition.
    """
    from parallel_louvain_method_spark.sources.checkpoint import (
        latest_level,
        load_level,
        save_level,
    )

    flat: DataFrame | None = None
    flat_np: "tuple | None" = None  # (vtx array, comm array) in-driver flat
    levels: list[LevelStats] = []
    q_prev = -math.inf
    start_level = 0

    # dense ids unlock the barrier superstep engine at level 0 (and
    # match the reference's renumber-first pipeline, renumber.py).  The
    # dense check is ONE aggregation over the distinct vertex set; when a
    # renumber is needed it rewrites the RAW edge table (half the rows of
    # the symmetric one) and symmetrizes afterwards — renumbering is a
    # bijection, so the two orders commute.
    restore_map: DataFrame | None = None
    if assume_dense and n_vertices is not None:
        n_verts = int(n_vertices)
    else:
        n_verts, dense = _vertex_check(edges)
        if not dense:
            from parallel_louvain_method_spark.operators.graph import renumber_edges

            edges, restore_map = renumber_edges(edges)
    # Level-0 symmetric build, PRE-PARTITIONED on the key the chosen engine
    # needs: symmetrize → ONE exchange on that key → dedup (a
    # hash aggregation whose clustering requirement a single-key
    # partitioning already satisfies — no second exchange) → persist.  A
    # localCheckpoint here would ERASE the partitioning (measured: the
    # engines then re-exchange the level's biggest table), so level 0 keeps
    # a persisted cache instead; its lineage is one exchange deep.
    from parallel_louvain_method_spark.operators.graph import (
        dedup as dedup_op,
        symmetrize as symmetrize_op,
    )

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    will_sql = superstep_engine == "sql" or (
        superstep_engine == "auto" and n_verts > strategy.BARRIER_VERTICES
    )
    part_key = "dst" if will_sql else "src"
    # then a weight-sum collapse of parallel edges: set-dedup keeps parallel
    # edges with DISTINCT weights (reference std::set semantics), whose
    # contributions always SUM downstream (compute_neighbors, degrees,
    # modularity) — summing them once here is semantics-preserving, gives
    # every level the unique-(src, dst) invariant the sql engine's sweep-0
    # fast path needs (coarsen output already has it), and is another
    # exchange-free hash aggregation on the same single-key partitioning
    sym = (
        dedup_op(symmetrize_op(edges).repartition(n_parts, part_key))
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    level0_cache: DataFrame | None = sym

    # the level's vertex count and id density: entering level 0 the ids
    # are dense (just renumbered or verified); each coarsen emits dense
    # 0..k-1 ids, k from its renumber map; a level loaded on resume gets
    # the vertex check level 0's input had
    nv, dense = n_verts, True

    if checkpoint_dir and resume:
        lvl = latest_level(spark, checkpoint_dir)
        if lvl is not None:
            sym, flat, meta = load_level(spark, checkpoint_dir, lvl)
            q_prev = meta["modularity"]
            start_level = lvl + 1
            nv, dense = _vertex_check(sym)

    final_q = q_prev if q_prev != -math.inf else float("nan")
    # the level's graph as driver arrays (src, dst, weight); ``sym`` is
    # stale while it is set
    sym_np: tuple | None = None
    for level_no in range(start_level, max_levels):
        if sym_np is not None and len(sym_np[0]) <= local_threshold:
            # the kernel runs straight on the arrays: no Spark job
            t0 = time.monotonic()
            stats = LevelStats(level_no, nv, len(sym_np[0]))
            m2 = float(sym_np[2].sum())
            assign, labelled = _local_level(sym_np, m2, max_sweeps, anneal, stats)
            stats.wall_sec = time.monotonic() - t0
        else:
            if sym_np is not None:  # a Spark engine takes this level
                sym, sym_np = _frame(spark, sym_np, EDGE_SCHEMA), None
            assign, deg, m2, stats, labelled = _level(
                spark,
                sym,
                n_vertices=nv,
                dense=dense,
                m2=None,
                min_moves_frac=MIN_MOVES_FRAC,
                max_sweeps=max_sweeps,
                anneal=anneal,
                level_no=level_no,
                local_threshold=local_threshold,
                superstep_engine=superstep_engine,
                skew_salt=skew_salt,
                # only the level-0 build above is partitioned on a key
                pre_partitioned=part_key if level_no == 0 else None,
                # level 0 collapsed parallel edges above; coarsen's groupBy
                # guarantees it for every later level (and for checkpointed
                # tables, which this driver wrote from one of the two)
                unique_pairs=True,
            )
        # Coarsen.  At or under the budget that admits the barrier engine
        # the community renumber is np.unique (sorted distinct = dense_ids'
        # rank order, so both forms are row-identical), past it dense_ids.
        # Under it a level that ended in the driver is summed in numpy from
        # its labelled edges; a sql or refined level (the edges do not
        # carry refined labels) joins ``sym`` with the map.
        n_level = stats.n_vertices
        in_driver = n_level <= strategy.BARRIER_VERTICES
        if refine_levels or not in_driver:
            labelled = None
        if labelled is not None and level0_cache is not None:
            # the biggest object of the run has no further consumer
            level0_cache.unpersist()
            level0_cache = None
        if refine_levels:
            from parallel_louvain_method_spark.operators.components import (
                refine_communities,
            )

            # split disconnected communities before this level freezes
            # into the coarse graph; Q never decreases under the split,
            # so the recomputed value both corrects the level stats and
            # keeps the min_q_gain convergence test monotone
            assign = fresh_checkpoint(
                refine_communities(sym, _frame(spark, assign))
            )
            stats.modularity = modularity_df(
                sym, assign, _frame(spark, deg, DEGREE_SCHEMA), m2
            )
        levels.append(stats)
        moved = sum(stats.moves_per_sweep) > 0
        stop = not moved or (stats.modularity - q_prev) <= min_q_gain
        amap = coarse = coarse_np = None
        if in_driver:
            if isinstance(assign, DataFrame):
                apdf = assign.select("vtx", "comm").toPandas()
                assign = apdf["vtx"].to_numpy(), apdf["comm"].to_numpy()
            av = assign[0]
            uniq, newc = np.unique(assign[1], return_inverse=True)
            newc = newc.astype(np.int64)
            nv = len(uniq)
            if labelled is None:
                amap = _frame(spark, (av, newc))
                coarse = _coarse_edges(sym, amap, n_level)
            elif checkpoint_dir or not stop:
                # each label becomes its rank in uniq, as newc did
                ls, ld, lw = labelled
                coarse_np = kernels.pair_sums(
                    np.searchsorted(uniq, ls), np.searchsorted(uniq, ld), lw
                )
        else:
            amap, _, nv = _dense_comm_map(_frame(spark, assign))
            # computed once: it feeds both coarse-edge joins and the flat
            amap = fresh_checkpoint(amap)
            coarse = _coarse_edges(sym, amap, n_level)
        dense = True  # the coarse ids are 0..nv-1
        # the flat stays in numpy while it is (level 0 ran in this call
        # under the budget; levels only shrink, so every later map is a
        # numpy one too), composed through a lookup table; otherwise —
        # level 0 past the budget, or a flat loaded on resume — one join.
        # Both are inner joins: ids absent from the map drop out.
        if flat is None and flat_np is None:
            if in_driver:
                flat_np = (av, newc)
            else:
                flat = amap
        elif flat_np is not None:
            lut = np.full(n_level, -1, dtype=np.int64)
            lut[av] = newc
            mapped = lut[flat_np[1]]
            keep = mapped >= 0
            flat_np = (flat_np[0][keep], mapped[keep])
        else:
            if amap is None:
                amap = _frame(spark, (av, newc))
            flat = fresh_checkpoint(
                flat.withColumnRenamed("comm", "mid")
                .join(amap.withColumnRenamed("vtx", "mid"), "mid")
                .select("vtx", "comm")
            )
        final_q = stats.modularity

        if checkpoint_dir:
            save_level(
                spark,
                checkpoint_dir,
                level_no,
                coarse if coarse_np is None else _frame(spark, coarse_np, EDGE_SCHEMA),
                _frame(spark, flat if flat_np is None else flat_np),
                {
                    "level": level_no,
                    "modularity": stats.modularity,
                    "sweeps": stats.sweeps,
                    "moves_per_sweep": stats.moves_per_sweep,
                    "n_vertices": stats.n_vertices,
                    "n_edges_sym": stats.n_edges_sym,
                    "wall_sec": stats.wall_sec,
                    "engine": stats.engine,
                },
            )

        if stop:
            break
        q_prev = stats.modularity
        sym_np = coarse_np
        if coarse is not None:
            sym = fresh_checkpoint(coarse)
        if level0_cache is not None:
            # the coarse table is checkpointed: the level-0 cache has no
            # further consumer
            level0_cache.unpersist()
            level0_cache = None

    if level0_cache is not None:
        level0_cache.unpersist()
    if flat_np is not None:
        flat = _frame(spark, flat_np).localCheckpoint(eager=True)
    assert flat is not None
    if restore_map is not None:
        flat = (
            flat.join(restore_map.withColumnRenamed("new_id", "vtx"), "vtx")
            .select(F.col("v").alias("vtx"), "comm")
        )
    return LouvainResult(assignment=flat, modularity=final_q, levels=levels)
