"""The workloads: what one repetition calls, and how its outputs are
checked.

Every call goes through a public function of the package, inside a span
named ``<layer>[.<step>]``; the layer is the package module the call
belongs to.  Results are collected to pandas inside the span that made
them, so a span ends when its result is materialized.  ``rep`` returns a
``verify`` function that runs the oracles; ``run.py`` calls it after the
repetition's clock has stopped.  ``warm`` is the untimed warm-up: the
first call of an operator in a JVM takes seconds longer than the next
ones, and the warm-up makes those first calls.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from parallel_louvain_method_spark.operators.components import connected_components
from parallel_louvain_method_spark.operators.labelprop import label_propagation
from parallel_louvain_method_spark.operators.louvain import louvain
from parallel_louvain_method_spark.operators.pagerank import pagerank
from parallel_louvain_method_spark.operators.triangles import triangle_count
from parallel_louvain_method_spark.sources.checkpoint import latest_level, load_level
from parallel_louvain_method_spark.sources.corpus import (
    build_file_graph,
    build_repo_graph,
    read_corpus,
)

import oracles

PAGERANK_ITERS = 10
LPA_ROUNDS = 2
# Below this many symmetric rows a Louvain level runs in the driver.  The
# full-size co-commit graph is above the default threshold, so its level 0
# runs on the barrier engine as at sf0.1; the tiny graphs of the smoke run
# and the warm-up get this lower one, so they take the same engines.
TINY_LOCAL_THRESHOLD = 5_000


@dataclass
class Context:
    spark: object
    tracer: object
    corpus_path: str
    work: str
    expected: tuple  # oracles.capped_pairs of the corpus
    tiny: bool = False
    checks: list = field(default_factory=list)

    @property
    def louvain_args(self):
        return {"local_threshold": TINY_LOCAL_THRESHOLD} if self.tiny else {}

    def check(self, name, result):
        ok, detail = result
        self.checks.append((name, bool(ok), detail))


def _build(ctx, builder):
    """Scan + edge build; returns the persisted edges, the id map and the
    build span, which holds the edge, dropped-bucket and vertex counts.
    The id-map row count is the ``n_vertices`` louvain's docstring asks
    for with ``assume_dense``."""
    sp = ctx.tracer.span
    with sp("corpus.scan"):
        corpus = read_corpus(ctx.spark, ctx.corpus_path)
    with sp("corpus.build") as s:
        edges, id_map, dropped = builder(corpus)
        edges = edges.persist()
        s["edges"] = edges.count()
        s["dropped"] = dropped.count()
        s["vertices"] = id_map.count()
    return edges, id_map, s


def _collect_graph(ctx, edges, id_map, build_span):
    """Outside the timed spans: pull the program's graph for the oracles."""
    e = edges.toPandas()
    ctx.check("edge_build", oracles.check_edge_build(
        ctx.expected, e, id_map.toPandas(), build_span["dropped"]))
    return e


def _louvain_stats(span, result):
    span["levels"] = [
        {k: getattr(l, k) for k in ("level", "n_vertices", "n_edges_sym", "sweeps",
                                    "moves_per_sweep", "wall_sec", "engine",
                                    "phase_crit", "phase_sum", "modularity")}
        for l in result.levels
    ]
    span["modularity"] = result.modularity


class CocommitLouvain:
    """Co-commit file graph, then Louvain to convergence."""

    shape, graph = "planted_files", "file"

    def rep(self, ctx):
        sp = ctx.tracer.span
        edges, id_map, b = _build(ctx, build_file_graph)
        with sp("louvain") as s:
            res = louvain(ctx.spark, edges, n_vertices=b["vertices"], assume_dense=True,
                          **ctx.louvain_args)
        _louvain_stats(s, res)
        with sp("louvain.collect"):
            assign = res.assignment.toPandas()

        def verify():
            e = _collect_graph(ctx, edges, id_map, b)
            edges.unpersist()
            ctx.check("louvain_q", oracles.check_modularity(e, assign, res.modularity))
            return {"modularity": res.modularity}
        return verify

    # the warm-up's ``ctx`` holds the tiny corpus
    warm_on_tiny = True

    def warm(self, ctx):
        self.rep(ctx)()


class SharedContentPillars:
    """Shared-content repo graph, then PageRank, CC, LPA and triangles,
    then a checkpointed Louvain, a simulated crash that loses the last
    level, resume, and a reload of the final level."""

    shape, graph = "zipf_repos", "repo"

    def rep(self, ctx):
        sp = ctx.tracer.span
        edges, id_map, b = _build(ctx, build_repo_graph)
        with sp("pagerank.input"):
            sym = edges.union(edges.select(F.col("dst").alias("src"),
                                           F.col("src").alias("dst"), "weight")).persist()
            sym.count()
        with sp("pagerank"):
            ranks = pagerank(sym, max_iter=PAGERANK_ITERS, tol=None).toPandas()
        with sp("cc") as c:
            cc = connected_components(edges).toPandas()
            c["components"] = int(cc["component"].nunique())
        with sp("lpa"):
            labels = label_propagation(edges, max_iter=LPA_ROUNDS).toPandas()
        with sp("triangles") as t:
            t["count"] = triangle_count(edges)
        ck = _checkpointed_louvain(ctx, edges, b["vertices"])

        def verify():
            e = _collect_graph(ctx, edges, id_map, b)
            sym.unpersist()
            edges.unpersist()
            g = oracles.components(e)
            ctx.check("pagerank", oracles.check_pagerank(e, ranks, PAGERANK_ITERS))
            ctx.check("components", oracles.check_components(g, cc))
            ctx.check("lpa_confined", oracles.check_label_confinement(g, labels))
            ctx.check("triangles", oracles.check_triangles(e, t["count"]))
            return {"modularity": ck(e)}
        return verify

    # the warm-up's ``ctx`` holds the timed corpus
    warm_on_tiny = False

    def warm(self, ctx):
        """The scan, the edge build and one level of the checkpointed
        Louvain path, whose first calls in a JVM run seconds slower than
        later ones.  The edge build runs on the timed corpus, so its plans
        are the timed ones.  Most of a repetition's time is per Spark job,
        so even a tiny one would cost about as much as the timed one, and
        after these calls the first ones of PageRank, CC, LPA and
        triangles run at about warm speed."""
        edges, _, b = _build(ctx, build_repo_graph)
        ckpt = os.path.join(ctx.work, "checkpoint")
        shutil.rmtree(ckpt, ignore_errors=True)
        louvain(ctx.spark, edges, n_vertices=b["vertices"], assume_dense=True,
                checkpoint_dir=ckpt, max_levels=1).assignment.toPandas()
        load_level(ctx.spark, ckpt, 0)[1].toPandas()
        edges.unpersist()


def _checkpointed_louvain(ctx, edges, n_vertices):
    """Louvain writing every level, a simulated crash (the last complete
    level deleted), ``resume=True`` and ``load_level`` of the final level.
    Returns the verify step, which checks Q, resume and reload and returns
    the resumed Q."""
    sp = ctx.tracer.span
    ckpt = os.path.join(ctx.work, "checkpoint")
    shutil.rmtree(ckpt, ignore_errors=True)
    kw = dict(n_vertices=n_vertices, assume_dense=True, checkpoint_dir=ckpt,
              **ctx.louvain_args)
    with sp("louvain") as s:
        full = louvain(ctx.spark, edges, **kw)
    _louvain_stats(s, full)
    with sp("louvain.collect"):
        full_assign = full.assignment.toPandas()
    with sp("checkpoint.latest_level") as k:
        last = latest_level(ctx.spark, ckpt)
    k["bytes"], k["files"] = _tree_size(ckpt)
    with sp("bench.crash"):
        shutil.rmtree(os.path.join(ckpt, f"level={last}"))
    with sp("checkpoint.resume") as r:
        resumed = louvain(ctx.spark, edges, resume=True, **kw)
        resumed_assign = resumed.assignment.toPandas()
    r["levels"] = len(resumed.levels)
    with sp("checkpoint.load"):
        level_edges, level_assign, meta = load_level(ctx.spark, ckpt, last)
        loaded = level_assign.toPandas()
        level_edges.count()

    def verify(e):
        ctx.check("louvain_q", oracles.check_modularity(e, full_assign, full.modularity))
        ctx.check("resume_equal", (
            abs(resumed.modularity - full.modularity) <= 1e-9
            and oracles.same_partition(full_assign, resumed_assign),
            f"Q {resumed.modularity:.9f} vs {full.modularity:.9f}"))
        ctx.check("load_level", (
            abs(meta["modularity"] - full.modularity) <= 1e-9
            and oracles.same_partition(full_assign, loaded),
            f"level {last} Q {meta['modularity']:.9f}"))
        return resumed.modularity
    return verify


def _tree_size(path):
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


WORKLOADS = {
    "cocommit_louvain": CocommitLouvain(),
    "sharedcontent_pillars": SharedContentPillars(),
}
