"""sql-engine scaling measurement at its compute-bound size.

The default bench graph (sf0.1, 1.3M edges) is overhead-dominated for the
join-based sql engine — the >20M-vertex execution path whose scaling the
north rule needs evidenced separately from the barrier engine's PASS
(BENCH_SCALING.md).  This harness:

1. builds (once, to ``PLM_EDGES``) a deterministic co-commit file graph
   sized by ``SCALING_REPOS`` — 200k repos → 87M undirected edges / 6M
   vertices, the size where one sweep's join+agg dominates fixed costs;
2. runs multi-level Louvain with ``superstep_engine="sql"`` at
   ``SCALING_LO`` and ``SCALING_HI`` taskset-pinned cores (whole process
   tree pinned — local[N] alone lets Python/JVM threads borrow idle
   cores);
3. prints one JSON line with both walls, per-level breakdowns and the
   wall/throughput scaling efficiency.

Pair with tools/shuffle_scaling.py (the pure-JVM shuffle ceiling of the
same box) to attribute any shortfall: if the engine's efficiency matches
the shuffle ceiling, the residual is the one-box proxy, not the plan.

Usage: ``python tools/louvain_scaling.py``; it takes no arguments and is
configured by the environment variables ``--help`` lists.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_BUILD = """
import sys
sys.path.insert(0, {repo!r})
from parallel_louvain_method_spark import get_spark
from parallel_louvain_method_spark.sources.corpus import (
    build_file_graph, synth_corpus,
)
spark = get_spark(app_name="edges-build", cores={cores}, shuffle_partitions={cores})
spark.sparkContext.setLogLevel("ERROR")
corpus = synth_corpus(
    spark, n_repos={repos}, files_per_repo={files}, commits_per_repo=5
)
edges, mapping, _ = build_file_graph(corpus)
edges.write.mode("overwrite").parquet({path!r})
print("NVERTS", mapping.count())
spark.stop()
"""

_RUN = """
import json, sys, time
sys.path.insert(0, {repo!r})
from parallel_louvain_method_spark import get_spark
from parallel_louvain_method_spark.operators.louvain import louvain
spark = get_spark(app_name="lscale{cpus}", cores={cpus}, shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
edges = spark.read.parquet({path!r})
t0 = time.monotonic()
res = louvain(spark, edges, n_vertices={nverts}, assume_dense=True,
              superstep_engine={engine!r})
wall = time.monotonic() - t0
print("RESULT " + json.dumps({{
    "cpus": {cpus}, "wall": round(wall, 2),
    "q": round(res.modularity, 6),
    "level_walls": [round(l.wall_sec, 2) for l in res.levels],
    "sweep_walls_l0": [round(w, 2) for w in res.levels[0].sweep_wall_sec],
    "engines": [l.engine for l in res.levels],
    "sweeps": [l.sweeps for l in res.levels],
    "edges_processed": sum(l.n_edges_sym * l.sweeps for l in res.levels),
    "phases_l0": {{k: round(v, 2)
                   for k, v in getattr(res.levels[0], "phase_crit", {{}}).items()}},
    "phases_l0_sum": {{k: round(v, 2)
                       for k, v in getattr(res.levels[0], "phase_sum", {{}}).items()}},
}}))
spark.stop()
"""


def _loadavg() -> list[str]:
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def _settle(threshold: float = 2.0, max_wait_s: int = 180) -> None:
    """Wait for the 1-min loadavg to decay below ``threshold``.

    The measured legs run right after the 32-core graph build (or after
    each other); starting a taskset-pinned run while the build's load is
    still decaying contaminates the FIRST leg (observed: a 4-core leg at
    loadavg 19 ran 305 s vs 175-188 s clean — recorded as rejected
    evidence in BENCH_SCALING.md §0aa).  Bounded wait: external steal can
    keep the loadavg up forever, and the in-file loadavg fields still
    record whatever state the run actually started in."""
    import time

    t0 = time.monotonic()
    while time.monotonic() - t0 < max_wait_s:
        if float(_loadavg()[0]) < threshold:
            return
        time.sleep(10)


def run(cpus: int, path: str, nverts: int, engine: str) -> dict:
    code = _RUN.format(
        repo=REPO, cpus=cpus, path=path, nverts=nverts, engine=engine
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", code],
        capture_output=True, text=True, timeout=5400, env=dict(os.environ),
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(out.stderr[-2000:])


_ENVIRONMENT = """environment:
  SCALING_REPOS   repos in the built graph (default 200000: 87M edges)
  SCALING_FILES   files per repo, the mean-degree knob (default 30)
  PLM_EDGES       edge parquet path, built when absent
                  (default /tmp/plm_edges_<repos>_f<files>.parquet)
  SCALING_LO      cores of the low leg (default 4)
  SCALING_HI      cores of the high leg (default 16)
  SCALING_ENGINE  louvain superstep_engine (default sql)
  SCALING_PRESYM  1: run on the symmetric weight-summed table
  SCALING_PAIRS   interleaved lo/hi pairs, medians reported (default 1)
"""


def main(argv=None) -> None:
    # parsed before anything is built: --help and a bad argument start no
    # Spark session
    argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        epilog=_ENVIRONMENT,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    ).parse_args(argv)
    repos = int(os.environ.get("SCALING_REPOS", "200000"))
    # mean-degree knob: edges/repo = C(files, 2), vertices = repos*files —
    # SCALING_FILES=60 doubles the bench default's mean degree at half the
    # vertices per edge (the compute-bound shape VERDICT r4 #2 asks for)
    files = int(os.environ.get("SCALING_FILES", "30"))
    path = os.environ.get(
        "PLM_EDGES", f"/tmp/plm_edges_{repos}_f{files}.parquet"
    )
    lo = int(os.environ.get("SCALING_LO", "4"))
    hi = int(os.environ.get("SCALING_HI", "16"))
    engine = os.environ.get("SCALING_ENGINE", "sql")

    if not os.path.exists(path):
        cores = os.cpu_count() or 16
        build = _BUILD.format(
            repo=REPO, cores=cores, repos=repos, files=files, path=path
        )
        out = subprocess.run(
            [sys.executable, "-c", build],
            capture_output=True, text=True, timeout=5400, env=dict(os.environ),
        )
        nverts = None
        for line in out.stdout.splitlines():
            if line.startswith("NVERTS"):
                nverts = int(line.split()[1])
        if nverts is None:
            raise RuntimeError(out.stderr[-2000:])
        with open(path + ".nverts", "w") as f:
            f.write(str(nverts))
    with open(path + ".nverts") as f:
        nverts = int(f.read().strip())

    # SCALING_PRESYM=1: run on the working representation a checkpoint or
    # graph store already holds (louvain's level-0 symmetrize + dedup +
    # weight-sum pass is idempotent on it and still runs).  The symmetric
    # weight-summed table is materialized ONCE here (it is the producer in
    # this scenario).
    presym = os.environ.get("SCALING_PRESYM", "") == "1"
    if presym:
        sym_path = path.removesuffix(".parquet") + "_sym.parquet"
        if not os.path.exists(sym_path):
            code = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from parallel_louvain_method_spark import get_spark
from parallel_louvain_method_spark.operators.graph import symmetric_edges
spark = get_spark(app_name="sym-build", cores={os.cpu_count() or 16})
spark.sparkContext.setLogLevel("ERROR")
(symmetric_edges(spark.read.parquet({path!r}))
 .groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
 .write.mode("overwrite").parquet({sym_path!r}))
spark.stop()
"""
            out = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True, text=True, timeout=5400,
                env=dict(os.environ),
            )
            if out.returncode != 0:
                raise RuntimeError(out.stderr[-2000:])
        path = sym_path

    _settle()  # the 32-core build's load must not bleed into leg 1
    load0 = _loadavg()
    # SCALING_PAIRS > 1: the r4d lesson is that single low-core runs of a
    # DETERMINISTIC job swing up to 1.57× between back-to-back executions
    # on this VM (external steal), so one pair samples the host, not the
    # engine.  Interleave the legs (lo,hi,lo,hi,…) so both sides see the
    # same windows, then take the per-leg MEDIAN wall/throughput.
    pairs = int(os.environ.get("SCALING_PAIRS", "1"))
    lo_runs, hi_runs = [], []
    for _ in range(pairs):
        lo_runs.append(run(lo, path, nverts, engine))
        _settle()
        hi_runs.append(run(hi, path, nverts, engine))
        _settle()

    def _median_run(runs: list[dict]) -> dict:
        byw = sorted(runs, key=lambda r: r["wall"])
        return byw[len(byw) // 2]

    r_lo, r_hi = _median_run(lo_runs), _median_run(hi_runs)
    eff = (r_lo["wall"] / r_hi["wall"]) / (hi / lo)
    tp_lo = r_lo["edges_processed"] / r_lo["wall"]
    tp_hi = r_hi["edges_processed"] / r_hi["wall"]

    # per-phase attribution (barrier engine): the level-0 critical paths
    # decompose the BSP wall into compute (kernel_*) vs data movement
    # (unpack = the one bulk JVM→Python transfer; gather_* + deg_exchange
    # = the allGather barriers).  Phase efficiency = how THAT phase alone
    # scaled lo→hi — the in-situ version of the kernel/shuffle
    # microbenchmarks (tools/kernel_scaling.py, tools/shuffle_scaling.py).
    phase_eff = None
    p_lo, p_hi = r_lo.get("phases_l0") or {}, r_hi.get("phases_l0") or {}
    if p_lo and p_hi:
        def bucket(p):
            k = sum(v for n, v in p.items() if n.startswith("kernel_"))
            c = sum(
                v for n, v in p.items()
                if n.startswith("gather_") or n == "deg_exchange"
            )
            return {"kernel": k, "comm": c, "unpack": p.get("unpack", 0.0)}
        b_lo, b_hi = bucket(p_lo), bucket(p_hi)
        phase_eff = {
            name: round((b_lo[name] / b_hi[name]) / (hi / lo), 3)
            for name in b_lo
            if b_hi.get(name)
        }
        phase_eff["buckets"] = {
            f"local[{lo}]": {k: round(v, 1) for k, v in b_lo.items()},
            f"local[{hi}]": {k: round(v, 1) for k, v in b_hi.items()},
        }

    # sum-based (work) attribution: phase SUMS across tasks are conserved
    # under repartitioning, so work_inflation = sum_hi / sum_lo is the
    # steal-robust signal — 1.0 means the phase's total work was unchanged
    # (perfect scaling when cores do it concurrently); >1 means per-core
    # throughput DEGRADED at hi (shared-bus saturation, or steal).  This is
    # robust to a single slow task, which corrupts max-based phase_eff.
    work_inflation = None
    s_lo = r_lo.get("phases_l0_sum") or {}
    s_hi = r_hi.get("phases_l0_sum") or {}
    if s_lo and s_hi:
        def bucket_s(p):
            k = sum(v for n, v in p.items() if n.startswith("kernel_"))
            c = sum(
                v for n, v in p.items()
                if n.startswith("gather_") or n == "deg_exchange"
            )
            return {"kernel": k, "comm": c, "unpack": p.get("unpack", 0.0)}
        bs_lo, bs_hi = bucket_s(s_lo), bucket_s(s_hi)
        work_inflation = {
            name: round(bs_hi[name] / bs_lo[name], 3)
            for name in bs_lo
            if bs_lo.get(name)
        }
        work_inflation["sums"] = {
            f"local[{lo}]": {k: round(v, 1) for k, v in bs_lo.items()},
            f"local[{hi}]": {k: round(v, 1) for k, v in bs_hi.items()},
        }

    print(
        json.dumps(
            {
                "engine": engine,
                "repos": repos,
                "files_per_repo": files,
                "n_vertices": nverts,
                "presym_input": presym,
                f"local[{lo}]": r_lo,
                f"local[{hi}]": r_hi,
                "eff_wall": round(eff, 3),
                "eff_throughput": round((tp_hi / tp_lo) / (hi / lo), 3),
                # every run kept (not just the medians) — walls and
                # per-run throughput, in execution order
                "all_walls": {
                    f"local[{lo}]": [r["wall"] for r in lo_runs],
                    f"local[{hi}]": [r["wall"] for r in hi_runs],
                },
                "all_throughput": {
                    f"local[{lo}]": [
                        round(r["edges_processed"] / r["wall"]) for r in lo_runs
                    ],
                    f"local[{hi}]": [
                        round(r["edges_processed"] / r["wall"]) for r in hi_runs
                    ],
                },
                "phase_eff_l0": phase_eff,
                "work_inflation_l0": work_inflation,
                "loadavg_before": load0,
                "loadavg_after": _loadavg(),
            }
        )
    )


if __name__ == "__main__":
    main()
