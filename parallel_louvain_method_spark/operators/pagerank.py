"""PageRank over the canonical edge table (SURVEY.md A10, [NR] north rule).

Two engines, the same barrier-vs-relational split as Louvain
(operators/louvain.py):

- **barrier engine** (default while ids are dense 0..n-1 and the vertex
  count fits driver / executor memory, ``plans.strategy.DRIVER_VERTICES``):
  ALL iterations run inside one Spark barrier stage of the runtime
  Louvain shares (functions/bsp.py: the Arrow read, the driver-hosted
  hub, the exchange, the transport-loss retry and the teardown).  Each
  task holds its dst-partitioned slice of the edge table in memory and
  exchanges its EXACT per-dst contribution sums (dst-partitioning makes
  partials disjoint) every iteration, so the edges cross the JVM→Python
  boundary once per run;
- **DataFrame engine** (sparse ids, past the limit, and the fallback
  whenever barrier scheduling is unavailable): pure DataFrame loop — one
  join (ranks onto edges by src) + one aggregation per iteration, rank
  table checkpointed each round and the superseded one released.
  Nothing per-vertex lands on one machine: the 10^9-vertex path.

Scale notes:
- the edge table is persisted once, partitioned by the relevant key, so
  only the (tiny) rank state moves per iteration;
- dangling mass (vertices with no out-edges) is redistributed uniformly —
  on a symmetrized graph danglings are only isolated vertices, but the
  operator also accepts directed input;
- convergence check ``max|Δ|`` is task-local numpy on the barrier engine
  (every task holds the same ranks); one extra small aggregation per
  iteration on the DataFrame engine; pass ``tol=None`` to run exactly
  ``max_iter`` rounds (needed for fixed-k SQL-oracle comparison);
- ``reset`` (a ``DataFrame[vtx, p]`` teleport distribution) turns either
  engine into personalized PageRank; the classic path keeps its exact
  original expression shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from parallel_louvain_method_spark.functions import bsp
from parallel_louvain_method_spark.operators.graph import vertex_ids
from parallel_louvain_method_spark.plans import strategy
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint, release
from parallel_louvain_method_spark.plans.strategy import small_side


def _pagerank_barrier(
    edges: DataFrame,
    n: int,
    damping: float,
    max_iter: int,
    tol: float | None,
    weighted: bool,
    p=None,
) -> DataFrame | None:
    """Whole-run barrier engine: ALL iterations inside ONE Spark stage.

    A per-iteration ``mapInArrow`` engine is bound not by the kernel but
    by Spark re-reading the cached edge table and re-serializing it
    JVM→Arrow→Python EVERY iteration — the same finding that motivated
    the Louvain barrier engine, re-applied here.  Each dst-partitioned
    slice crosses the boundary ONCE (each barrier task reads its Arrow
    batches, functions/bsp.py); per-iteration traffic is the task's own
    per-dst partial sums (disjoint under dst-partitioning, ~12 B per
    touched dst) over the runtime's exchange.  Every task applies the same gathered
    partials to its full rank vector, so all tasks hold identical state
    and take identical tol-exit decisions.

    Returns None when barrier scheduling is unavailable (dynamic
    allocation, no slots) — the caller falls back to the DataFrame
    engine.  A worker-side Python error raises; a star-transport loss is
    retried by the runtime over the coordinator.  Values match the
    DataFrame engine's to within summation-order ulps (the cross-engine
    parity test bounds the difference).
    """
    import numpy as np

    spark = edges.sparkSession
    sc = spark.sparkContext
    if not bsp.barrier_supported(sc):
        return None
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        sc.defaultParallelism,
    )
    wcol = F.col("weight").cast("double") if weighted else F.lit(1.0)
    ep = (
        edges.select(
            F.col("src").cast("int").alias("src"),
            F.col("dst").cast("int").alias("dst"),
            wcol.alias("weight"),
        )
        .repartition(n_parts, "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ep.count()

    # out-weight per src (iteration-invariant): one JVM aggregation over
    # the cache, broadcast once
    ow_pdf = ep.groupBy("src").agg(F.sum("weight").alias("w")).toPandas()
    out_w = np.zeros(n, dtype=np.float64)
    out_w[ow_pdf["src"].to_numpy(dtype=np.int64)] = ow_pdf["w"].to_numpy()
    dangling_mask = out_w == 0.0
    has_danglings = bool(dangling_mask.any())
    safe_out = np.where(dangling_mask, 1.0, out_w)
    ow_bc = sc.broadcast(safe_out)
    dm_bc = sc.broadcast(dangling_mask)
    p_bc = sc.broadcast(p) if p is not None else None

    nv = int(n)
    d_ = float(damping)
    mi_ = int(max_iter)
    tol_ = tol
    has_d_ = has_danglings

    def _run(comm, dcol, s, w):
        import pickle

        import numpy as _np

        s64 = s.astype(_np.int64)
        d64 = dcol.astype(_np.int64)
        ow = ow_bc.value
        dmask = dm_bc.value
        pv = p_bc.value if p_bc is not None else None
        if pv is None:
            ranks = _np.full(nv, 1.0 / nv, dtype=_np.float64)
            base = (1.0 - d_) / nv
        else:
            ranks = pv.copy()
            base = (1.0 - d_) * pv
        for _it in range(mi_):
            if len(s64):
                contrib = w / ow[s64] * ranks[s64]
                part = _np.bincount(d64, weights=contrib, minlength=nv)
                dv = _np.flatnonzero(part)
                payload = (dv.astype(_np.int32), part[dv])
            else:
                payload = (_np.empty(0, _np.int32), _np.empty(0, _np.float64))
            in_sum = _np.zeros(nv, dtype=_np.float64)
            for fr in comm.exchange(pickle.dumps(payload, protocol=4)):
                gv, gs = pickle.loads(fr)
                if len(gv):
                    # dst-partitioned: partials are disjoint scatters
                    in_sum[gv.astype(_np.int64)] = gs
            dangling = float(ranks[dmask].sum()) if has_d_ else 0.0
            if pv is None:
                new_ranks = base + d_ * in_sum + d_ * dangling / nv
            else:
                new_ranks = base + d_ * in_sum + d_ * dangling * pv
            delta = float(_np.abs(new_ranks - ranks).max())
            ranks = new_ranks
            # identical state everywhere -> identical exit decision
            if tol_ is not None and delta < tol_:
                break
        # strided slice: tasks hold identical ranks, driver reassembles
        return ranks[comm.rank::comm.n]

    # the edge cache and the broadcasts are released on every exit path
    try:
        res = bsp.run(
            ep.select("dst", "src", "weight"), _run, "pagerank",
            "the DataFrame engine",
        )
    finally:
        ow_bc.destroy()
        dm_bc.destroy()
        if p_bc is not None:
            p_bc.destroy()
        ep.unpersist()
    if res is None:
        return None
    outs = res[0]
    ranks_arr = np.empty(nv, dtype=np.float64)
    for rank, slice_ in enumerate(outs):
        ranks_arr[rank::len(outs)] = slice_
    import pandas as pd

    return (
        spark.createDataFrame(
            pd.DataFrame(
                {"vtx": np.arange(nv, dtype=np.int64), "rank": ranks_arr}
            ),
            schema="vtx long, rank double",
        )
        .localCheckpoint(eager=True)
    )


def _dense_reset(reset: DataFrame, n: int):
    """``reset`` as a float64[n] teleport vector over dense ids 0..n-1."""
    import numpy as np

    rp = reset.select("vtx", "p").toPandas()
    vs = rp["vtx"].to_numpy(dtype=np.int64)
    # validate before indexing: a negative id would WRAP numpy indexing
    # (silently teleporting to vertex n-1), and a duplicate would
    # overwrite instead of summing — both corrupt the distribution
    # without an error
    if len(vs) and (vs.min() < 0 or vs.max() >= n):
        raise ValueError(f"reset contains vertex ids outside 0..{n - 1}")
    if len(np.unique(vs)) != len(vs):
        raise ValueError("reset contains duplicate vertex ids")
    p_vec = np.zeros(n, dtype=np.float64)
    p_vec[vs] = rp["p"].to_numpy(dtype=np.float64)
    return p_vec


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    weighted: bool = True,
    reset: DataFrame | None = None,
) -> DataFrame:
    """Returns ``DataFrame[vtx: long, rank: double]``; Σ rank = 1.

    ``edges`` is interpreted as DIRECTED (src -> dst).  For the undirected
    semantics of the link graph, pass the symmetric table.

    ``reset`` turns this into PERSONALIZED PageRank: a
    ``DataFrame[vtx: long, p: double]`` teleport distribution (Σ p = 1;
    vertices absent from it get p = 0 — rank flows to them only through
    edges).  Both the (1-d) base term and the dangling-mass
    redistribution use p instead of 1/n, and iteration starts from p, so
    uniform p reproduces the classic operator.  The table is joined once
    onto the vertex set (broadcast up to ``strategy.DRIVER_VERTICES``) —
    a seed set of any size up to |V| works; None keeps the classic
    uniform teleport on the exact original expression shapes.

    The DataFrame loop's joins are sized by ``strategy.small_side``: the
    rank table is broadcast up to the limit, shuffle-hashed past it.
    """
    verts = vertex_ids(edges).withColumnRenamed("v", "vtx").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))

    # barrier engine while ids are dense and state fits memory (same
    # decision as louvain's engine selection)
    if n <= strategy.DRIVER_VERTICES:
        # dense gate needs BOTH bounds: {-1, 0, 1, 3} has n == max+1 but a
        # negative id would silently wrap numpy indexing in the barrier
        # engine — require min >= 0, else use the DataFrame engine
        mx, mn = verts.agg(F.max("vtx"), F.min("vtx")).first()
        if mx is not None and int(mx) == n - 1 and int(mn) >= 0:
            # whole-run barrier stage while the cluster can schedule one
            # (edges cross the Python boundary once, not once per
            # iteration); the DataFrame loop below otherwise
            try:
                p_vec = None if reset is None else _dense_reset(reset, n)
                res = _pagerank_barrier(
                    edges, n, damping, max_iter, tol, weighted, p=p_vec
                )
            except Exception:
                verts.unpersist()
                raise
            if res is not None:
                verts.unpersist()
                return res

    limit = strategy.DRIVER_VERTICES
    wcol = F.col("weight") if weighted else F.lit(1.0)
    out_w = edges.groupBy(F.col("src").alias("vtx")).agg(
        F.sum(wcol).alias("out_w")
    )
    # transition fraction per edge: w / out_w(src); pre-partitioned by the
    # per-iteration join key so the cached big side never re-shuffles
    n_parts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    trans = (
        edges.join(
            small_side(out_w, n, limit, False).withColumnRenamed("vtx", "src"), "src"
        )
        .select("src", "dst", (wcol / F.col("out_w")).alias("frac"))
        .repartition(n_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    trans.count()

    verts_p: DataFrame | None = None
    if reset is not None:
        # a reset row naming a vertex that is not in the graph would be
        # silently dropped by the join below, leaking its teleport mass
        # (Σ rank < 1 forever); duplicates would duplicate output rows
        bad = reset.join(verts, "vtx", "left_anti").count()
        if bad:
            raise ValueError(
                f"reset names {bad} vertex ids not present in the graph"
            )
        if reset.groupBy("vtx").count().filter("count > 1").count():
            raise ValueError("reset contains duplicate vertex ids")
        verts_p = (
            verts.join(
                small_side(reset.select("vtx", "p"), n, limit, False), "vtx", "left"
            )
            .na.fill({"p": 0.0})
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        verts_p.count()
        ranks = fresh_checkpoint(verts_p.select("vtx", F.col("p").alias("rank")))
    else:
        ranks = fresh_checkpoint(
            verts.select("vtx", F.lit(1.0 / n).alias("rank"))
        )
    base = (1.0 - damping) / n
    # dangling set is static — skip the per-iteration aggregation entirely
    # when it's empty (always true for symmetrized graphs)
    danglings = verts.join(out_w, "vtx", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    has_danglings = danglings.count() > 0

    for _ in range(max_iter):
        # the rank table is a stats-free checkpoint leaf, the other sides
        # are shuffle-backed
        contrib = (
            trans.join(
                small_side(ranks, n, limit).withColumnRenamed("vtx", "src"), "src"
            )
            .groupBy(F.col("dst").alias("vtx"))
            .agg(F.sum(F.col("frac") * F.col("rank")).alias("in_sum"))
        )
        in_sums = small_side(contrib, n, limit, leaf=False)
        # dangling mass: rank held by vertices with no out-edges
        dangling = (
            (
                ranks.join(danglings.select("vtx"), "vtx")
                .agg(F.sum("rank"))
                .first()[0]
                or 0.0
            )
            if has_danglings
            else 0.0
        )
        # per-iteration scalars ride as DATA (1-row broadcast), not
        # literals: a literal lands in the whole-stage-codegen source, so
        # a per-iteration value (the dangling redistribute) would compile
        # a fresh janino class every iteration — fresh classes run
        # interpreted until the JIT catches up, measured as random
        # multi-second per-sweep stalls in the louvain sql loop (same
        # fix there, operators/louvain.py _sql_sweep_loop)
        if reset is None:
            redistribute = damping * dangling / n
            params = edges.sparkSession.createDataFrame(
                [(float(redistribute),)], "redistribute double"
            )
            new_ranks = verts.join(in_sums, "vtx", "left").na.fill(
                {"in_sum": 0.0}
            ).crossJoin(F.broadcast(params)).select(
                "vtx",
                (
                    F.lit(base)
                    + F.lit(damping) * F.col("in_sum")
                    + F.col("redistribute")
                ).alias("rank"),
            )
        else:
            # personalized: both teleport and dangling mass land on p(v)
            params = edges.sparkSession.createDataFrame(
                [(float(damping * dangling),)], "dmass double"
            )
            new_ranks = verts_p.join(in_sums, "vtx", "left").na.fill(
                {"in_sum": 0.0}
            ).crossJoin(F.broadcast(params)).select(
                "vtx",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping) * F.col("in_sum")
                    + F.col("dmass") * F.col("p")
                ).alias("rank"),
            )
        # truncate lineage every iteration (iterative-lineage rule); the
        # broadcast exchange of `contrib` forces a materialization per
        # iteration regardless, so deferring the checkpoint only re-runs
        # the previous join inside the next one (measured slower)
        new_ranks = fresh_checkpoint(new_ranks)
        delta = None
        if tol is not None:
            delta = (
                new_ranks.withColumnRenamed("rank", "new_rank")
                .join(ranks, "vtx")
                .agg(F.max(F.abs(F.col("new_rank") - F.col("rank"))))
                .first()[0]
            )
        release(ranks)
        ranks = new_ranks
        if delta is not None and delta < tol:
            break

    trans.unpersist()
    verts.unpersist()
    danglings.unpersist()
    if verts_p is not None:
        verts_p.unpersist()
    return ranks
