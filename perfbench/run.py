"""Benchmark entry point: one workload, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload cocommit_louvain --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke      # every workload and oracle, tiny inputs

Run from the repository root.  A run launches the JVM, then sets up several
times (session restart, Python-worker warm-up, seeded corpus written as
parquet) and reports the median set-up time, runs the workload's untimed
warm-up, then repeats the workload for ``--seconds`` and reports medians
over the repetitions.  Every repetition's outputs are checked
against the oracles in ``oracles.py``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (tracing on: Spark event log and
one job group per span, joined offline by ``tracing.stage_metrics``).
The lines before it name every figure with its unit, including the ones
that are not gated (``louvain_edges_per_s``, ``resume_s``,
``failed_ratio``, ``peak_rss_mb``), plus the host load the run saw.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "parallel_louvain_method_spark"
SETUPS = 2
LAYERS = ("corpus", "louvain", "checkpoint", "pagerank", "cc", "lpa", "triangles")
STAGE_KEYS = ("task_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "stages", "failed_tasks")
BARRIER_SETUP_PHASES = ("unpack", "prep", "xchg_setup", "deg_exchange")
NAMES = ("cocommit_louvain", "sharedcontent_pillars")


def _launcher_env(work: str) -> int:
    """Pin the Spark launch from outside the package; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    os.environ.update(
        # Python workers import the package by name; they inherit this
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PLM_DRIVER_MEM=f"{max(1, min(4, mem_gb // 4))}g",
        PLM_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # keep the JVMs' perf-data files out of /tmp
        JAVA_TOOL_OPTIONS=" ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p),
    )
    os.environ.pop("OMP_NUM_THREADS", None)
    sys.path[:0] = [ROOT, HERE]
    return cores


def _host_load() -> dict:
    out = {}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg1"] = float(f.read().split()[0])
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
            out["cpu_some_avg10"] = float(some[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        pass
    return out


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _warm_worker(batches):
    """Starts the Python workers and imports the package in them, which
    fails here, not inside a timed call, if ``PYTHONPATH`` is wrong."""
    import importlib

    importlib.import_module(PACKAGE + ".functions.kernels")
    yield from batches


class Session:
    """The run's SparkSession plus the JVM it started; ``close`` stops both
    and waits for the JVM to exit."""

    def __init__(self, cores: int, work: str, trace: bool):
        self.cores, self.work, self.trace = cores, work, trace
        self.spark = None
        self.n = 0

    def start(self):
        from parallel_louvain_method_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.n += 1
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.trace:
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name="perfbench", cores=self.cores,
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def event_dir(self):
        return os.path.join(self.work, f"eventlog-{self.n}")

    def warm(self):
        from pyspark.sql import functions as F

        df = self.spark.range(self.cores * 4, numPartitions=self.cores)
        df.mapInArrow(_warm_worker, df.schema).agg(F.sum("id")).collect()

    def settle(self):
        """Full GC in the JVM and in Python, so the garbage of earlier work
        is not collected inside the next timed repetition."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self):
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median(values):
    return statistics.median(values) if values else 0.0


def _rep_figures(tracer, rep, wall, rows) -> dict:
    """Per-repetition figures from the rep's spans."""
    from workloads import PAGERANK_ITERS

    spans = [s for s in tracer.spans if s["rep"] == rep]
    by = {s["name"]: s for s in spans}
    dur = tracer.durations(rep)
    top = tracer.durations(rep, top_level=True)

    def layer_wall(layer):
        return sum(v for k, v in top.items() if k.split(".")[0] == layer)

    f = {
        "wall_s": wall,
        "unattributed_s": wall - sum(top.values()),
        "corpus.scan_s": dur.get("corpus.scan", 0.0),
        "corpus.edge_build_s": dur.get("corpus.build", 0.0),
        "corpus.rows": rows,
        "corpus.edges": by["corpus.build"]["edges"],
        "corpus.dropped_buckets": by["corpus.build"]["dropped"],
    }
    for layer in LAYERS:
        f[f"{layer}.wall_s"] = layer_wall(layer)
    lv = by.get("louvain")
    levels = lv["levels"] if lv else []
    call = dur.get("louvain", 0.0)
    walls = [l["wall_sec"] for l in levels]
    sweeps = sum(l["sweeps"] for l in levels)
    visits = sum(l["n_vertices"] * l["sweeps"] for l in levels)
    crit, total = {}, {}
    for l in levels:
        for src, dst in ((l["phase_crit"], crit), (l["phase_sum"], total)):
            for k, v in src.items():
                part = ("kernel" if k.startswith("kernel") else "gather" if k.startswith("gather")
                        else "setup" if k in BARRIER_SETUP_PHASES else None)
                if part:
                    dst[part] = dst.get(part, 0.0) + v
    f.update({
        "louvain.levels": len(levels),
        "louvain.sweeps": sweeps,
        "louvain.level0_s": walls[0] if walls else 0.0,
        "louvain.upper_levels_s": sum(walls[1:]),
        "louvain.outside_levels_s": call - sum(walls) if levels else 0.0,
        "louvain.move_ratio": (sum(sum(l["moves_per_sweep"]) for l in levels) / visits
                               if visits else 0.0),
        "louvain.edges_per_s": (sum(l["n_edges_sym"] * l["sweeps"] for l in levels) / call
                                if levels else 0.0),
    })
    for part in ("kernel", "gather", "setup"):
        f[f"louvain.barrier.{part}_crit_s"] = crit.get(part, 0.0)
        f[f"louvain.barrier.{part}_sum_s"] = total.get(part, 0.0)
    ck = by.get("checkpoint.latest_level", {})
    f.update({
        "checkpoint.bytes": ck.get("bytes", 0),
        "checkpoint.files": ck.get("files", 0),
        "checkpoint.load_s": dur.get("checkpoint.load", 0.0),
        "checkpoint.resume_s": dur.get("checkpoint.resume", 0.0),
        "checkpoint.resume_levels": by.get("checkpoint.resume", {}).get("levels", 0),
        "pagerank.per_iter_s": dur.get("pagerank", 0.0) / PAGERANK_ITERS,
        "cc.components": by.get("cc", {}).get("components", 0),
        "triangles.count": by.get("triangles", {}).get("count", 0),
    })
    return f


def _stage_figures(event_dir, cores, reps, rep_figs) -> dict:
    """Per-layer Spark task metrics, median over the timed repetitions."""
    from tracing import stage_metrics

    if not reps:
        return {}, {}
    groups, jobs = stage_metrics(event_dir)
    out = {}
    per_rep = []
    for rep, figs in zip(reps, rep_figs):
        layer_tot = {layer: {k: 0.0 for k in STAGE_KEYS} for layer in LAYERS}
        heaviest = {}
        for g, m in groups.items():
            name, _, r = g.rpartition("#")
            layer = name.split(".")[0]
            if r != str(rep) or layer not in layer_tot:
                continue
            for k in STAGE_KEYS:
                layer_tot[layer][k] += m.get(k, 0.0)
            if m.get("heaviest_stage_task_s", -1) > heaviest.get(layer, (-1, 1.0))[0]:
                heaviest[layer] = (m["heaviest_stage_task_s"], m["task_skew"])
        for layer, tot in layer_tot.items():
            span = figs[f"{layer}.wall_s"]
            tot["task_skew"] = heaviest.get(layer, (0, 0.0))[1]
            tot["core_util"] = tot["task_s"] / (span * cores) if span else 0.0
        # louvain layer time with no Spark job running: in-driver kernels,
        # numpy coarsen, planning and Py4J round trips
        louvain_jobs = sum(w for g, _, w in jobs
                           if g in (f"louvain#{rep}", f"louvain.collect#{rep}"))
        layer_tot["louvain"]["driver_s"] = (
            figs["louvain.wall_s"] - louvain_jobs if figs["louvain.wall_s"] else 0.0)
        per_rep.append(layer_tot)
    for layer in LAYERS:
        for k in per_rep[0][layer]:
            out[f"{layer}.{k}"] = _median([p[layer][k] for p in per_rep])
    by_fn = {}
    for g, fn, w in jobs:
        name, _, r = g.rpartition("#")
        if r in map(str, reps):
            by_fn.setdefault(name, {}).setdefault(fn, 0.0)
            by_fn[name][fn] += w / len(reps)
    return out, by_fn


def _corpus(session, wl, seed, tiny):
    """Generate the corpus and write it as parquet; returns its path and
    the table as pandas."""
    import gen

    path = os.path.join(session.work, "corpus-tiny" if tiny else "corpus")
    shutil.rmtree(path, ignore_errors=True)
    pdf = gen.make_corpus(wl.shape, seed, tiny)
    gen.write_corpus(pdf, path, session.cores)
    return path, pdf


def run_workload(args, name, session, smoke=False):
    """Launch the JVM, set up ``SETUPS`` times in it, run the workload's
    warm-up, then time repetitions for ``args.seconds``.  With ``smoke`` the corpus is tiny, set-up runs once
    and one timed repetition runs, without warm-up."""
    import oracles
    from tracing import Tracer
    from workloads import WORKLOADS, Context

    wl = WORKLOADS[name]
    checks = []
    tracer = Tracer(f"{name}-{args.seed}-{os.getpid()}")

    def context(path, pdf, tiny):
        return Context(session.spark, tracer, path, session.work,
                       oracles.capped_pairs(pdf, wl.graph), tiny=tiny, checks=checks)

    phases = {}
    if session.spark is None:
        t0 = time.perf_counter()
        session.start()
        session.warm()
        phases["launch"] = time.perf_counter() - t0
    # every timed set-up is the same kind: a SparkContext restart in the
    # running JVM, worker warm-up, corpus generation
    setup_times = []
    for _ in range(1 if smoke else SETUPS):
        t0 = time.perf_counter()
        session.start()
        session.warm()
        path, pdf = _corpus(session, wl, args.seed, smoke)
        setup_times.append(time.perf_counter() - t0)
    phases["setup"] = sum(setup_times)
    if session.trace:
        tracer.sc = session.spark.sparkContext
    ctx = context(path, pdf, smoke)
    rows = len(pdf)

    attempted = failed = 0
    reps, walls, outs = [], [], []
    t_reps = time.perf_counter()
    try:
        if not smoke:
            t0 = time.perf_counter()
            tracer.rep = f"{name}:warmup"
            attempted += 1
            wl.warm(context(*_corpus(session, wl, args.seed, True), True)
                    if wl.warm_on_tiny else ctx)
            phases["warmup"] = time.perf_counter() - t0
        t_reps = time.perf_counter()
        timed = 0.0
        while True:
            tracer.rep = f"{name}:{len(reps)}"
            attempted += 1
            session.settle()
            t0 = time.perf_counter()
            verify = wl.rep(ctx)
            wall = time.perf_counter() - t0
            timed += wall
            reps.append(tracer.rep)
            walls.append(wall)
            outs.append(verify())
            if smoke or timed + wall > args.seconds:
                break
    except Exception:
        traceback.print_exc()
        failed += 1
    phases["timed"] = sum(walls)
    phases["reps_with_checks"] = time.perf_counter() - t_reps
    for cname, ok, detail in checks:
        if not ok:
            print(f"check failed: {name}/{cname}: {detail}", file=sys.stderr)
    attempted += len(checks)
    failed += sum(not ok for _, ok, _ in checks)
    return dict(workload=name, setup_times=setup_times, rows=rows, reps=reps, walls=walls,
                outs=outs, tracer=tracer, attempted=attempted, failed=failed, checks=checks,
                phases=phases, event_dir=session.event_dir)


T0 = time.perf_counter()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, every workload and oracle once")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found beside {HERE}: run from a repository checkout",
              file=sys.stderr)
        return 2
    names = NAMES if args.smoke else [args.workload]
    if names[0] not in NAMES:
        p.error(f"--workload must be one of {', '.join(NAMES)}")

    work = os.path.join(HERE, ".work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = _launcher_env(work)
    # the smoke run traces, so it also proves every listed metric is produced
    session = Session(cores, work, bool(args.trace) or args.smoke)
    load_before = _host_load()
    results = []
    try:
        for name in names:
            results.append(run_workload(args, name, session, smoke=args.smoke))
        rss = (_vm_hwm_mb(session.jvm_pid()), _vm_hwm_mb(os.getpid()))
    finally:
        session.close()
    load_after = _host_load()

    spec = _spec()
    if args.smoke:
        bad = 0
        for r in results:
            figures, _ = _figures(r, session, rss, args.seed)
            missing = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]
                       if m["name"] not in figures]
            fails = [c for c in r["checks"] if not c[1]]
            bad += r["failed"] + len(missing)
            print(f"smoke {r['workload']}: {len(r['checks'])} checks, "
                  f"{r['failed']} failed, wall {r['walls'][0] if r['walls'] else 'n/a'} s"
                  + "".join(f"\n  FAIL {c[0]}: {c[2]}" for c in fails)
                  + (f"\n  metrics not produced: {missing}" if missing else ""))
        shutil.rmtree(work, ignore_errors=True)
        return 1 if bad else 0

    r = results[0]
    figures, med = _figures(r, session, rss, args.seed)
    print(f"workload {r['workload']} seed {args.seed} cores {cores} reps {len(r['reps'])} "
          f"walls_s {json.dumps([round(w, 3) for w in r['walls']])}")
    for m in spec["end_to_end"]:
        print(f"{m['name']} {figures.get(m['name'], 0.0)} {m['unit']}")
    print(f"louvain_edges_per_s {med.get('louvain.edges_per_s', 0.0)} 1/s")
    print(f"resume_s {med.get('checkpoint.resume_s', 0.0)} s")
    print(f"failed_ratio {r['failed'] / max(1, r['attempted'])} ratio "
          f"({r['failed']} of {r['attempted']} calls and checks)")
    spans = {}
    for rep in r["reps"]:
        for k, v in r["tracer"].durations(rep).items():
            spans.setdefault(k, []).append(v)
    print(f"spans_s {json.dumps({k: round(_median(v), 3) for k, v in spans.items()})}")
    warm = r["tracer"].durations(f"{r['workload']}:warmup")
    print(f"warmup_spans_s {json.dumps({k: round(v, 3) for k, v in warm.items()})}")
    print(f"figures {json.dumps({k: round(v, 4) for k, v in med.items() if v})}")
    print(f"phases_s {json.dumps({k: round(v, 2) for k, v in r['phases'].items()})} "
          f"setups_s {json.dumps([round(t, 2) for t in r['setup_times']])} "
          f"total_s {time.perf_counter() - T0:.1f}")
    print(f"peak_rss_mb {sum(rss)} MB (jvm {rss[0]:.1f}, python {rss[1]:.1f})")
    print(f"host_load before {json.dumps(load_before)} after {json.dumps(load_after)}")
    listed = spec["per_layer"] if session.trace else spec["end_to_end"]
    # a run whose repetition failed has no figures; it reports correct: false
    metrics = {m["name"]: {"value": figures.get(m["name"], 0.0), "unit": m["unit"]}
               for m in listed}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


def _spec() -> dict:
    """The metric lists and units, from BENCHMARK.json at the root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _figures(r, session, rss, seed):
    """Every figure of a run by metric name, and the per-rep medians."""
    figs = [_rep_figures(r["tracer"], rep, w, r["rows"]) for rep, w in zip(r["reps"], r["walls"])]
    med = {k: _median([f[k] for f in figs]) for k in figs[0]} if figs else {}
    figures = {
        "setup_s": _median(r["setup_times"]),
        "wall_s": med.get("wall_s", 0.0),
        "edge_build_rows_per_s": (r["rows"] / med["corpus.edge_build_s"]
                                  if med.get("corpus.edge_build_s") else 0.0),
        "modularity": _median([o["modularity"] for o in r["outs"]]),
        "session.peak_rss_mb": sum(rss),
    }
    if not session.trace:
        return figures, med
    figures.update({k: v for k, v in med.items() if k != "wall_s"})
    stage, by_fn = _stage_figures(r["event_dir"], session.cores, r["reps"], figs)
    figures.update(stage)
    figures["trace.wall_s"] = med.get("wall_s", 0.0)
    figures["session.launch_s"] = r["phases"].get("launch", 0.0)
    os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
    r["tracer"].write(
        os.path.join(HERE, ".work", "traces", f"{r['workload']}-seed{seed}.json"),
        {"workload": r["workload"], "seed": seed, "reps": r["reps"],
         "rep_figures": figs, "stage_by_layer": stage, "jobs_by_function": by_fn},
    )
    return figures, med


if __name__ == "__main__":
    sys.exit(main())
