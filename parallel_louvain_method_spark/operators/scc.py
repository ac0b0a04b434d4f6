"""Strongly connected components — trim + forward-coloring rounds
([NR+] link-graph analytics family: the directed-graph companion of
components.py, which the north rule's "connected components" only
covers for the symmetrized graph).

Labels every vertex of the DIRECTED graph with ``component = min vertex
id of its SCC`` — the same min-member convention as
``connected_components``, which makes the full fixpoint EXACTLY
SQL-checkable: ``scc(v) = min({v} ∪ {u : v →* u ∧ u →* v})`` is a
recursive-CTE reachability closure, so the driver gate hashes the
complete decomposition, not just a fixed-round prefix.

Algorithm (the FW-BW-Trim / coloring family used by Pregel-style
systems — one color sweep per outer round, no recursion):

1. **Trim**: repeatedly drop vertices with no live out-edge or no live
   in-edge — each is a singleton SCC (``component = vtx``).  Kills the
   bulk of real link graphs (DAG fringes) before any fixpoint work.
2. **Forward coloring**: fixpoint of ``f(v) <- min(f(v), min over
   out-neighbors w of f(w))`` — so ``f(v) = min id forward-reachable
   from v`` — accelerated by pointer jumping (``f(v) <- f(f(v))`` is
   sound here because ``f(v)`` is itself forward-reachable from ``v``,
   so its candidates are ``v``'s candidates; log-round chains, exactly
   the components.py trick).
3. **Backward match within color**: every color value ``c`` satisfies
   ``f(c) = c``; a BFS from the roots along edges whose BOTH endpoints
   have color ``c`` marks ``{v : f(v) = c ∧ c →* v}`` — exactly SCC(c)
   (any intermediate vertex of a c→v path lies on a cycle through both,
   hence has color c, so the same-color restriction loses nothing and
   keeps each round's frontier join equi-keyed).  Matched vertices get
   ``component = f(v) = c`` — provably the SCC minimum (c is reachable
   from every member, and every member reaches c).
4. Remove matched vertices, repeat from 1 on the residual graph.

Every outer round removes at least each color root's SCC, so the loop
terminates; ``max_iter`` bounds the OUTER rounds and RAISES on
exhaustion (kcore contract — never a silent partial labeling).  All
state is vertex-keyed rows, every step an equi-join + min/semi-join,
per-round ``fresh_checkpoint`` (stats-free leaves, plans/lineage.py);
the backward BFS is frontier-based, O(SCC diameter) rounds, O(color
class) state.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint


def _simple_directed(edges: DataFrame) -> DataFrame:
    return (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _trim(
    live_v: DataFrame, live_e: DataFrame, n_live: int
) -> tuple[DataFrame, DataFrame, DataFrame | None, int]:
    """Drop no-out / no-in vertices until none remain.  Returns
    (live_v, live_e, trimmed_singletons_or_None, n_live)."""
    trimmed: DataFrame | None = None
    while n_live > 0:
        keep = (
            live_v.join(
                live_e.select(F.col("src").alias("vtx")), "vtx", "left_semi"
            ).join(
                live_e.select(F.col("dst").alias("vtx")), "vtx", "left_semi"
            )
        )
        keep = fresh_checkpoint(keep)
        n_keep = keep.count()
        if n_keep == n_live:
            break
        gone = live_v.join(keep, "vtx", "left_anti")
        trimmed = (
            gone if trimmed is None
            else fresh_checkpoint(trimmed.unionByName(gone))
        )
        live_v = keep
        live_e = fresh_checkpoint(
            live_e.join(
                keep.withColumnRenamed("vtx", "src"), "src", "left_semi"
            ).join(keep.withColumnRenamed("vtx", "dst"), "dst", "left_semi")
        )
        n_live = n_keep
    return live_v, live_e, trimmed, n_live


def _forward_colors(live_v: DataFrame, live_e: DataFrame) -> DataFrame:
    """Fixpoint of min-forward-reachable-id, with pointer jumping:
    ``DataFrame[vtx, f]``."""
    f = fresh_checkpoint(live_v.select("vtx", F.col("vtx").alias("f")))
    prev_sum = None
    while True:
        cand = (
            # both sides are stats-free checkpoint leaves, so the planner
            # would sort-merge every round; hash-join with the (small)
            # color state as build side instead (the hits/eigen fix)
            live_e.join(
                f.select(
                    F.col("vtx").alias("dst"), F.col("f").alias("nf")
                ).hint("shuffle_hash"),
                "dst",
            )
            .groupBy(F.col("src").alias("vtx"))
            .agg(F.min("nf").alias("nf"))
        )
        stepped = f.join(cand, "vtx", "left").select(
            "vtx",
            F.least(
                F.col("f"), F.coalesce(F.col("nf"), F.col("f"))
            ).alias("f"),
        )
        jumped = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("vtx").alias("f"), F.col("f").alias("parent")
                ).alias("b"),
                "f",
                "left",
            )
            .select(
                "vtx", F.coalesce(F.col("parent"), F.col("f")).alias("f")
            )
        )
        jumped = fresh_checkpoint(jumped)
        # colors only ever decrease (min-propagation + pointer jumps), so
        # an unchanged SUM proves an unchanged state — one aggregate
        # replaces the per-round join-and-count
        # summed as decimal(38,0): a long sum overflows on ids near 2^62
        f_sum = int(
            jumped.agg(F.sum(F.col("f").cast("decimal(38,0)"))).first()[0]
            or 0
        )
        f = jumped
        if prev_sum is not None and f_sum == prev_sum:
            return f
        prev_sum = f_sum


def _backward_match(f: DataFrame, live_e: DataFrame) -> DataFrame:
    """Vertices backward-reachable from their color root within their
    color class: ``DataFrame[vtx]`` (= the union of the roots' SCCs)."""
    colored = (
        live_e.join(
            f.select(
                F.col("vtx").alias("src"), F.col("f").alias("fs")
            ).hint("shuffle_hash"),
            "src",
        )
        .join(
            f.select(
                F.col("vtx").alias("dst"), F.col("f").alias("fd")
            ).hint("shuffle_hash"),
            "dst",
        )
        .filter(F.col("fs") == F.col("fd"))
        .select("src", "dst")
    )
    colored = fresh_checkpoint(colored)
    reached = fresh_checkpoint(
        f.filter(F.col("vtx") == F.col("f")).select("vtx")
    )
    frontier = reached
    while True:
        new = fresh_checkpoint(
            colored.join(
                frontier.withColumnRenamed("vtx", "src").hint(
                    "shuffle_hash"
                ),
                "src",
                "left_semi",
            )
            .select(F.col("dst").alias("vtx"))
            .distinct()
            .join(reached, "vtx", "left_anti")
        )
        if new.count() == 0:
            return reached
        reached = fresh_checkpoint(reached.unionByName(new))
        frontier = new


def strongly_connected_components(
    edges: DataFrame, max_iter: int | None = None
) -> DataFrame:
    """SCC decomposition of the directed graph ``edges`` (``src → dst``
    as given; weights ignored): ``DataFrame[vtx: long, component: long]``
    with ``component = min vertex id of the SCC``.  Self-loops are
    irrelevant to SCCs and dropped; the vertex universe is every id
    appearing in the edge table.

    ``max_iter`` bounds the outer trim+color+match rounds and RAISES on
    exhaustion — never a silent partial labeling; the unbounded default
    always terminates (every round removes at least one whole SCC).
    """
    spark = edges.sparkSession
    live_e = fresh_checkpoint(_simple_directed(edges))
    # universe from the RAW table: a self-loop-only vertex is a singleton
    # SCC and must still be labeled (the first trim round emits it)
    live_v = fresh_checkpoint(
        edges.select(F.col("src").alias("vtx"))
        .unionByName(edges.select(F.col("dst").alias("vtx")))
        .distinct()
    )
    n_live = live_v.count()
    out: DataFrame | None = None

    def _fold(piece: DataFrame) -> None:
        nonlocal out
        out = (
            piece if out is None
            else fresh_checkpoint(out.unionByName(piece))
        )

    rounds = range(max_iter) if max_iter is not None else itertools.count()
    for _ in rounds:
        if n_live == 0:
            break
        live_v, live_e, trimmed, n_live = _trim(live_v, live_e, n_live)
        if trimmed is not None:
            _fold(trimmed.select("vtx", F.col("vtx").alias("component")))
        if n_live == 0:
            break
        f = _forward_colors(live_v, live_e)
        matched = _backward_match(f, live_e)
        _fold(
            matched.join(f, "vtx").select(
                "vtx", F.col("f").alias("component")
            )
        )
        live_v = fresh_checkpoint(live_v.join(matched, "vtx", "left_anti"))
        live_e = fresh_checkpoint(
            live_e.join(
                live_v.withColumnRenamed("vtx", "src"), "src", "left_semi"
            ).join(live_v.withColumnRenamed("vtx", "dst"), "dst", "left_semi")
        )
        n_live -= matched.count()
    else:
        if n_live != 0:
            raise RuntimeError(
                f"strongly_connected_components did not finish within "
                f"{max_iter} outer rounds; raise max_iter or pass "
                "max_iter=None for the unbounded loop"
            )
    if out is None:
        return spark.createDataFrame([], "vtx long, component long")
    return out.select(
        F.col("vtx").cast("long").alias("vtx"),
        F.col("component").cast("long").alias("component"),
    )


def _closure(rel: DataFrame, seeds: DataFrame) -> DataFrame:
    """Frontier-BFS reachability closure along ``rel`` (``src → dst``)
    from ``seeds [vtx]``: ``DataFrame[vtx]`` including the seeds.
    O(diameter) rounds, each one equi-join + anti-join."""
    reached = fresh_checkpoint(seeds.select("vtx").distinct())
    frontier = reached
    while True:
        new = fresh_checkpoint(
            rel.join(
                frontier.withColumnRenamed("vtx", "src").hint(
                    "shuffle_hash"
                ),
                "src",
                "left_semi",
            )
            .select(F.col("dst").alias("vtx"))
            .distinct()
            .join(reached, "vtx", "left_anti")
        )
        if new.count() == 0:
            return reached
        reached = fresh_checkpoint(reached.unionByName(new))
        frontier = new


def bowtie_decomposition(
    edges: DataFrame, max_iter: int | None = None
) -> DataFrame:
    """Broder et al. bow-tie structure of a directed (web) graph:
    ``DataFrame[vtx: long, region: string]`` labeling every vertex
    relative to the LARGEST SCC (ties broken by min component label):

    - ``CORE``        — the giant SCC itself;
    - ``IN``          — reaches the core, not in it;
    - ``OUT``         — reachable from the core, not in it;
    - ``TUBE``        — reachable from IN and reaches OUT, avoiding the
                        core (any IN→v path through the core would make
                        v OUT, so full-graph closures need no residual
                        filtering — precedence does it);
    - ``TENDRIL_IN``  — reachable from IN only;
    - ``TENDRIL_OUT`` — reaches OUT only;
    - ``DISCONNECTED`` — none of the above.

    The classic whole-corpus link-graph census ("Graph structure in the
    Web", Broder et al. 2000).  Cost: one SCC decomposition + four
    frontier-BFS closures (forward/backward from the core, forward from
    IN, backward from OUT) — every step an equi-join, O(diameter)
    rounds each, nothing collected driver-side but the 1-row giant pick.
    """
    comp = strongly_connected_components(edges, max_iter=max_iter)
    comp = fresh_checkpoint(comp)
    giant_row = (
        comp.groupBy("component")
        .count()
        .orderBy(F.col("count").desc(), F.col("component").asc())
        .first()
    )
    verts = comp.select("vtx")
    if giant_row is None:
        return verts.select(
            F.col("vtx").cast("long"), F.lit("DISCONNECTED").alias("region")
        )
    giant = giant_row["component"]
    core = comp.filter(F.col("component") == giant).select("vtx")
    rel = fresh_checkpoint(_simple_directed(edges))
    rev = rel.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    fwd = _closure(rel, core)          # core ∪ OUT
    bwd = _closure(rev, core)          # core ∪ IN
    in_set = bwd.join(core, "vtx", "left_anti")
    out_set = fwd.join(core, "vtx", "left_anti")
    f_in = _closure(rel, in_set)       # reachable from IN (incl. IN)
    t_out = _closure(rev, out_set)     # reaches OUT (incl. OUT)

    def _flag(s: DataFrame, name: str) -> DataFrame:
        return s.select("vtx", F.lit(True).alias(name))

    return (
        verts.join(_flag(core, "is_core"), "vtx", "left")
        .join(_flag(in_set, "is_in"), "vtx", "left")
        .join(_flag(out_set, "is_out"), "vtx", "left")
        .join(_flag(f_in, "from_in"), "vtx", "left")
        .join(_flag(t_out, "to_out"), "vtx", "left")
        .select(
            F.col("vtx").cast("long"),
            F.when(F.col("is_core"), "CORE")
            .when(F.col("is_in"), "IN")
            .when(F.col("is_out"), "OUT")
            .when(F.col("from_in") & F.col("to_out"), "TUBE")
            .when(F.col("from_in"), "TENDRIL_IN")
            .when(F.col("to_out"), "TENDRIL_OUT")
            .otherwise("DISCONNECTED")
            .alias("region"),
        )
    )


def condensation(
    edges: DataFrame, max_iter: int | None = None
) -> DataFrame:
    """The condensation DAG: contract every SCC to one vertex (labeled
    with the SCC's min member id, the :func:`strongly_connected_components`
    convention) and keep the distinct cross-component edges —
    ``DataFrame[src: long, dst: long]``, acyclic by construction.

    This is the standard first step of directed-reachability pipelines
    (topological layering, dominator-style analyses, web-graph bow-tie
    decomposition): all cycle structure collapses into the labels, and
    every downstream pass runs on a DAG a fraction of the input's size.
    Two broadcast-or-shuffle equi-joins of the edge table against the
    vertex→component map, then a distinct — nothing new to scale.
    """
    comp = strongly_connected_components(edges, max_iter=max_iter)
    return (
        _simple_directed(edges)
        .join(comp.withColumnRenamed("vtx", "src"), "src")
        .withColumnRenamed("component", "csrc")
        .join(comp.withColumnRenamed("vtx", "dst"), "dst")
        .withColumnRenamed("component", "cdst")
        .filter(F.col("csrc") != F.col("cdst"))
        .select(
            F.col("csrc").cast("long").alias("src"),
            F.col("cdst").cast("long").alias("dst"),
        )
        .distinct()
    )
