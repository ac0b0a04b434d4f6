"""Weisfeiler-Lehman (1-WL) color refinement — structural vertex roles
and graph fingerprints.

Color refinement is the workhorse behind graph-isomorphism screening,
WL-kernel graph features, and GNN expressivity analysis: start every
vertex at color = degree, then repeatedly relabel each vertex by the
multiset of its neighbors' colors until the partition stabilizes.  Two
graphs whose stable color HISTOGRAMS differ are certainly
non-isomorphic; vertices sharing a stable color are structurally
indistinguishable to any message-passing model of matching depth.

This implementation relabels by EXACT canonical rank, not by hashing:
each round builds the signature string ``color ':' sorted neighbor
colors`` and assigns new colors as the dense rank of the distinct
signatures (the same two-phase distributed rank as
:func:`..graph.dense_ids` — no single-partition window, no collision
risk, and the ranks are reproducible in any SQL engine, so the driver
gate replays rounds exactly).  Signatures are pure ASCII (digits, ':',
',') — Spark's UTF-8 binary string ordering and a SQL oracle's memcmp
collation agree on them byte for byte.

Graph conventions follow the reference's adjacency-set semantics
(src/graph.h:25): simple undirected graph, self-loops dropped,
multi-edges collapsed.  The reference has no WL operator; this is a
north-rule addition to the link-graph analytics family.

Scale: each round is one vertex-keyed join (neighbor colors), one
map-side-combinable ``collect_list`` bounded by the vertex's degree, and
one distributed rank over the distinct signatures — all shuffles on
vertex keys.  A mega-hub's signature string is O(degree) characters;
on hub-heavy graphs cap degrees first (``graph.ego_subgraph`` or a
top-k sparsifier), exactly the guidance :func:`..walks.node2vec_walks`
documents for its candidate windows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .graph import dense_ids
from .triangles import _simple_undirected
from ..plans.lineage import fresh_checkpoint


@dataclass
class WLResult:
    """Colors plus convergence telemetry."""

    colors: DataFrame  # [vtx, color]
    rounds_run: int
    n_colors: int
    converged: bool  # color-class count stable before the bound hit


def _relabel(sig: DataFrame) -> tuple[DataFrame, int]:
    """(vtx, sig) -> ((vtx, color), color count): dense rank of the
    distinct signature strings via the two-phase distributed rank (no
    global window)."""
    mapping, n_colors = dense_ids(sig.select("sig"), col="sig")
    return sig.join(mapping, "sig").select(
        "vtx", F.col("new_id").alias("color")
    ), n_colors


def wl_colors(
    edges: DataFrame,
    rounds: int | None = None,
    max_iter: int = 50,
) -> WLResult:
    """Run 1-WL color refinement; returns :class:`WLResult` whose
    ``colors`` is ``DataFrame[vtx: long, color: long]``.

    ``rounds`` fixed-k mode runs exactly k relabeling rounds with ZERO
    mid-loop actions — the driver-gate/oracle-unrollable shape (same
    convention as ``pagerank(tol=None)``).  ``rounds=None`` refines to
    the stable partition: since color classes only ever split (each
    round's signature embeds the previous color), the partition is
    stable exactly when the class COUNT stops growing — one O(1)-row
    action per round.  Raises RuntimeError if ``max_iter`` rounds pass
    without stabilizing (stability needs at most |V|-1 splits, so the
    bound is a guard against misuse, not a silent cap — same posture as
    ``kcore``'s exhaustion error).
    """
    if rounds is not None and rounds < 0:
        raise ValueError("wl_colors requires rounds >= 0")
    if rounds is None and max_iter < 1:
        raise ValueError("wl_colors requires max_iter >= 1")

    sym = fresh_checkpoint(_simple_undirected(edges))
    state = fresh_checkpoint(
        sym.groupBy(F.col("src").alias("vtx")).agg(
            F.count("*").alias("color")
        )
    )

    def one_round(state: DataFrame) -> tuple[DataFrame, int]:
        nbr = sym.join(
            state.select(
                F.col("vtx").alias("dst"), F.col("color").alias("nc")
            ),
            "dst",
        ).select(F.col("src").alias("vtx"), "nc")
        sig = (
            nbr.groupBy("vtx")
            .agg(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("nc")),
                        lambda c: c.cast("string"),
                    ),
                ).alias("nsig")
            )
            .join(state, "vtx")
            .select(
                "vtx",
                F.concat_ws(
                    ":", F.col("color").cast("string"), F.col("nsig")
                ).alias("sig"),
            )
        )
        return _relabel(sig)

    n_colors = state.agg(F.countDistinct("color")).first()[0] or 0
    if rounds is not None:
        for _ in range(rounds):
            # dense_ids localCheckpoints its mapping, so per-round state
            # lineage is already truncated at the relabel join
            state, n_colors = one_round(state)
        return WLResult(
            state.select("vtx", "color"), rounds, n_colors, converged=False
        )

    for it in range(max_iter):
        state, n_new = one_round(state)
        if n_new == n_colors:
            return WLResult(
                state.select("vtx", "color"), it + 1, n_new, converged=True
            )
        n_colors = n_new
    raise RuntimeError(
        f"wl_colors: partition not stable after {max_iter} rounds "
        "(at most |V|-1 splits can occur); raise max_iter"
    )


def wl_fingerprint(edges: DataFrame, rounds: int | None = None) -> DataFrame:
    """Graph fingerprint: the WL color histogram
    ``DataFrame[color: long, n: long]`` after refinement.  Two graphs
    with different stable fingerprints are certainly non-isomorphic;
    identical fingerprints mean 1-WL cannot tell them apart."""
    res = wl_colors(edges, rounds=rounds)
    return res.colors.groupBy("color").agg(F.count("*").alias("n"))
