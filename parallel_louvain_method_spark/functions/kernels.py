"""Numpy CSR kernels — the compute core of the engine, Spark-free.

The reference packs each rank's adjacency into three parallel arrays
(``row_index`` / ``column_index`` / ``weights``, /root/reference/src/graph.h:115-117,
built by ``Graph::sparsify`` /root/reference/src/graph.cpp:51-63) and runs the
Louvain local-move sweep as a sequential scan over vertices
(/root/reference/src/community.cpp:64-102).  These kernels reproduce that
behavior bit-for-bit where the golden tests pin it, and are invoked from
the engines in operators/louvain.py: in the driver for local levels, and
once per barrier task for superstep levels.  Keeping them free of any
Spark import makes them unit-testable in microseconds.

Semantics pinned by the reference (see SURVEY.md §1.5, §2.4):

- adjacency is symmetrized and deduplicated on exact ``(neighbor, weight)``
  pairs (``std::set`` semantics, src/graph.h:25); parallel edges with
  *different* weights survive;
- CSR rows are sorted by (src, dst, weight) — the golden CSR test
  (tests/main_test.cpp:23-30) pins this order;
- ``ecount`` = CSR entries // 2 (src/graph.cpp:51-63) — an edge COUNT;
  modularity uses ``m2 = 2 * ecount`` (src/community.cpp:51);
- ``weighted_degree`` sums the CSR row, so a self-loop counts ONCE
  (src/graph.cpp:238-247);
- per-vertex move: compute weights to neighbor communities excluding
  self-loops (src/community.cpp:122-148), remove from current community,
  argmax of ``gain = w(v->c) - tot[c]*deg(v)/m2`` with the *current
  community first* in candidate order and strict ``>`` (ties keep the
  earlier candidate — src/community.cpp:106-118), re-insert;
- sweep order is ascending vertex id; the pass loop ends when a full sweep
  makes zero moves (src/community.cpp:69-101).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np


class CSR(NamedTuple):
    """Columnar adjacency for a dense vertex range ``[0, n)``."""

    row_index: np.ndarray  # int64, len n+1
    column_index: np.ndarray  # int64, len = entries
    weights: np.ndarray  # float64, len = entries
    ecount: int  # undirected edge count = entries // 2


def symmetrize_dedup_edges(
    src: np.ndarray, dst: np.ndarray, weight: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Emit both directions of each edge, dedup exact (src, dst, weight)
    triples, sorted by (src, dst, weight).

    Mirrors ``Graph::Graph(const EdgeList&)`` (src/graph.cpp:78-85): the
    ``std::set`` collapses exact duplicates while parallel edges with
    different weights survive.  A self-loop symmetrizes onto itself, so it
    contributes ONE CSR entry.
    """
    s = np.concatenate([src, dst]).astype(np.int64)
    d = np.concatenate([dst, src]).astype(np.int64)
    w = np.concatenate([weight, weight]).astype(np.float64)
    order = np.lexsort((w, d, s))
    s, d, w = s[order], d[order], w[order]
    if len(s):
        keep = np.ones(len(s), dtype=bool)
        keep[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1]) | (w[1:] != w[:-1])
        s, d, w = s[keep], d[keep], w[keep]
    return s, d, w


def pack_csr(
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray,
    n: int | None = None,
    assume_symmetric: bool = False,
) -> CSR:
    """Pack a (symmetric, deduped) edge array into CSR over dense ids 0..n-1."""
    if not assume_symmetric:
        src, dst, weight = symmetrize_dedup_edges(src, dst, weight)
    else:
        order = np.lexsort((weight, dst, src))
        src, dst, weight = src[order], dst[order], weight[order]
    if n is None:
        n = int(max(src.max(initial=-1), dst.max(initial=-1))) + 1 if len(src) else 0
    elif len(src) and int(max(src.max(), dst.max())) >= n:
        raise ValueError(
            f"pack_csr requires dense ids in [0, n={n}); "
            f"saw id {int(max(src.max(), dst.max()))} — renumber first"
        )
    counts = np.bincount(src, minlength=n)
    row_index = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=row_index[1:])
    return CSR(row_index, dst.astype(np.int64), weight.astype(np.float64), len(dst) // 2)


def weighted_degrees(csr: CSR) -> np.ndarray:
    """Per-vertex sum of CSR row weights (self-loops count once —
    src/graph.cpp:238-247)."""
    n = len(csr.row_index) - 1
    if len(csr.column_index) == 0:
        return np.zeros(n)
    # row id of every CSR entry, then segment-sum
    rows = np.repeat(np.arange(n), np.diff(csr.row_index))
    return np.bincount(rows, weights=csr.weights, minlength=n)


def modularity(in_w: np.ndarray, total: np.ndarray, m2: float) -> float:
    """Q = Σ_{c: tot>0} in[c]/m2 − (tot[c]/m2)²  (src/community.cpp:49-60)."""
    mask = total > 0
    t = total[mask] / m2
    return float(np.sum(in_w[mask] / m2 - t * t))


def louvain_sequential(
    csr: CSR,
    m2: float | None = None,
    max_sweeps: int = 1000,
    anneal: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[float], bool]:
    """One level of sequential-semantics Louvain, faithful to
    ``Communities::iterate`` (src/community.cpp:64-102).

    Returns ``(node_to_comm, in_w, total, modularity_per_sweep, improved)``.
    ``m2`` defaults to ``2 * ecount`` (reference's m-is-a-count quirk,
    SURVEY.md §1.5); pass ``2 * Σw`` for standard semantics on weighted /
    coarsened graphs.

    ``anneal`` reproduces the distributed reference's temperature schedule
    (A4): a candidate replaces the running best only when it wins by MORE
    than ``temperature = exp(-(sweep+1))`` (``increase > best_increase &&
    |best_increase - increase| > temperature``,
    src/distcommunity.cpp:549-562; the schedule decays each sweep,
    src/distcommunity.cpp:227-231,383).  Off (the default), the margin is 0
    and the predicate reduces to the sequential reference's strict ``>``.
    """
    n = len(csr.row_index) - 1
    deg = weighted_degrees(csr)
    if m2 is None:
        m2 = 2.0 * csr.ecount
    node_comm = np.arange(n, dtype=np.int64)
    total = deg.copy()
    in_w = np.zeros(n)
    row_index, col, w = csr.row_index, csr.column_index, csr.weights

    q_per_sweep: list[float] = []
    total_moves = 0
    improvement = False
    for sweep in range(max_sweeps):
        temp = float(np.exp(-(sweep + 1))) if anneal else 0.0
        prev_moves = total_moves
        for node in range(n):
            nc = int(node_comm[node])
            lo, hi = row_index[node], row_index[node + 1]
            nbrs = col[lo:hi]
            ws = w[lo:hi]
            # weights to neighboring communities, self-loops excluded,
            # candidate order: current community first, then first-occurrence
            # order over the (sorted) adjacency — src/community.cpp:122-148
            w_to: dict[int, float] = {nc: 0.0}
            for nb, cw in zip(nbrs.tolist(), ws.tolist()):
                if nb == node:
                    continue
                c = int(node_comm[nb])
                w_to[c] = w_to.get(c, 0.0) + cw
            d_node = deg[node]
            # remove (src/community.cpp:41-45)
            total[nc] -= d_node
            in_w[nc] -= 2.0 * w_to[nc]
            # argmax, strict >, current community first (src/community.cpp:106-118);
            # under anneal the winner must beat the running best by > temp
            best_c, best_inc = nc, 0.0
            for c, dnc in w_to.items():
                inc = dnc - total[c] * d_node / m2
                if inc > best_inc + temp:
                    best_c, best_inc = c, inc
            # insert (src/community.cpp:33-37)
            total[best_c] += d_node
            in_w[best_c] += 2.0 * w_to[best_c]
            node_comm[node] = best_c
            if best_c != nc:
                total_moves += 1
        if total_moves > 0:
            improvement = True
        q_per_sweep.append(modularity(in_w, total, m2))
        if total_moves == prev_moves:
            break
    return node_comm, in_w, total, q_per_sweep, improvement


def louvain_sequential_edges(
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray,
    m2: float | None = None,
    max_sweeps: int = 1000,
    anneal: bool = False,
) -> tuple[np.ndarray, np.ndarray, int, float]:
    """Run a full Louvain level to convergence on a raw (possibly
    non-dense, non-symmetric) edge array.

    Densifies ids locally, symmetrizes + dedups, packs CSR, runs
    :func:`louvain_sequential`, and maps community labels back to original
    id space (a community is labeled by the original id of its
    representative vertex).  Returns ``(vertices, communities, sweeps, Q)``.

    This is the single-``applyInPandas``-call fast path: one Spark job per
    *level* instead of one per sweep, used once coarsening has shrunk the
    graph below the superstep threshold.  Returns
    ``(vertices, communities, sweeps, Q, improved)``.
    """
    ids = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    csr = pack_csr(s, d, weight, n=len(ids))
    if m2 is None:
        m2 = float(csr.weights.sum())
    comm, in_w, tot, qs, imp = louvain_sequential(
        csr, m2=m2, max_sweeps=max_sweeps, anneal=anneal
    )
    q = qs[-1] if qs else 0.0
    # the reference's `in` never counts self-loop weight (SURVEY.md §1.5);
    # report level modularity in the engine's standard convention (self-loop
    # weight included once) so multi-level Q comparisons are consistent —
    # identical on self-loop-free input (all golden fixtures)
    rows = np.repeat(np.arange(len(ids)), np.diff(csr.row_index))
    self_rows = rows == csr.column_index
    if self_rows.any():
        self_w = np.bincount(
            comm[rows[self_rows]], weights=csr.weights[self_rows], minlength=len(ids)
        )
        q = modularity(in_w + self_w, tot, m2)
    return ids, ids[comm], len(qs), q, imp


def _vectorized_moves(
    s_pos: np.ndarray,
    c: np.ndarray,
    w: np.ndarray,
    v_comm: np.ndarray,
    v_deg: np.ndarray,
    tot_of,  # callable comm-id array -> tot array
    m2: float,
    min_gain: float,
    active: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One synchronous vectorized move pass.

    ``(s_pos, c, w)``: COO rows (src as POSITION into the caller's sorted
    block-vertex table, neighbor-community, weight), self-loops already
    excluded.  Taking positions instead of raw ids keeps every per-pass
    lookup a plain gather: the previous id-based variant re-ran
    ``np.searchsorted`` over all rows on EVERY pass, which profiles at
    ~600 ns/row on this host (~5 s per 8.7M-row pass) vs ~5 ns/row for the
    gather — the positions are structural (fixed per level) and belong to
    the caller.  Returns (positions, new_comms) for movers.
    """
    if active is not None:
        keep = active[s_pos]
        s_pos, c, w = s_pos[keep], c[keep], w[keep]
    if len(s_pos) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    # group by (s_pos, c): a fused single-key argsort is ~2x a two-key
    # lexsort (radix path for int keys); fall back to lexsort if the fused
    # key could overflow int64.  s_pos is a bijective, order-preserving
    # relabel of the block's src ids, so grouping and every tie-break below
    # are identical to grouping on the ids themselves.
    c_span = int(c.max()) + 1 if len(c) else 1
    if len(s_pos) and float(int(s_pos.max()) + 1) * c_span < float(1 << 62):
        key = s_pos * np.int64(c_span) + c
        order = np.argsort(key, kind="stable")
    else:
        order = np.lexsort((c, s_pos))
    s_pos, c, w = s_pos[order], c[order], w[order]
    new_grp = np.empty(len(s_pos), dtype=bool)
    new_grp[:1] = True
    new_grp[1:] = (s_pos[1:] != s_pos[:-1]) | (c[1:] != c[:-1])
    gidx = np.cumsum(new_grp) - 1
    g_src = s_pos[new_grp]
    g_comm = c[new_grp]
    g_w = np.bincount(gidx, weights=w)

    pos = g_src
    own_mask = g_comm == v_comm[pos]
    w_own = np.zeros(len(v_comm))
    w_own[pos[own_mask]] = g_w[own_mask]
    deg = v_deg
    tot_own = tot_of(v_comm)
    gain_own = w_own - (tot_own - deg) * deg / m2

    g_tot = tot_of(g_comm)
    gain = g_w - (g_tot - np.where(own_mask, deg[pos], 0.0)) * deg[pos] / m2
    # acceptance: beat max(gain_stay, 0) by MORE than min_gain.  The 0-floor
    # reproduces the reference's best_increase = 0.0 init
    # (src/community.cpp:108, src/distcommunity.cpp:551): a vertex never
    # moves INTO a negative-gain community, even when staying scores worse —
    # matching the sequential kernel here (louvain_sequential), which
    # starts its argmax at 0.  min_gain is the
    # anneal temperature margin (A4, src/distcommunity.cpp:549-562);
    # min_gain == 0 reduces to the reference's plain strict >.
    base = np.maximum(gain_own, 0.0) + min_gain
    beats = gain > base[pos]
    if not beats.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    bs, bc, bg, bpos = g_src[beats], g_comm[beats], gain[beats], pos[beats]
    o2 = np.lexsort((bc, -bg, bs))
    bs, bc, bpos = bs[o2], bc[o2], bpos[o2]
    first = np.concatenate(([True], bs[1:] != bs[:-1]))
    return bpos[first], bc[first]


class DenseBlockPrep(NamedTuple):
    """Structural (per-LEVEL) state of a dense block kernel call: the
    self-loop-filtered COO rows and their row->block-position maps.  None
    of it depends on communities, so a sweep loop that holds the block in
    memory (the barrier engine) computes it once and passes it to every
    :func:`louvain_block_local_dense` call of the level."""

    s: np.ndarray
    d: np.ndarray
    w: np.ndarray
    v_ids: np.ndarray
    s_pos: np.ndarray
    d_pos: np.ndarray
    d_in_block: np.ndarray


def prepare_dense_block(
    s: np.ndarray, d: np.ndarray, w: np.ndarray, n_vertices: int
) -> DenseBlockPrep:
    """Build :class:`DenseBlockPrep` for dense ids ``0..n_vertices-1``.

    The row->position maps use a dense scatter + gather (``pos[v_ids] =
    arange; pos[s]``) instead of ``np.searchsorted``: ids are dense by
    this engine's contract, and binary search profiles ~100x slower than
    the gather at block scale (~600 ns vs ~5 ns per row on this host).
    """
    keep = s != d
    s, d, w = s[keep], d[keep], w[keep].astype(np.float64)
    v_ids = np.unique(s)
    pos = np.zeros(n_vertices, dtype=np.int64)
    pos[v_ids] = np.arange(len(v_ids), dtype=np.int64)
    s_pos = pos[s]
    d_pos = pos[d]
    # non-block dsts hit pos's zero default; v_ids[0] == d only when d IS
    # in the block, so the membership test stays exact
    d_in_block = (
        v_ids[d_pos] == d if len(v_ids) else np.zeros(len(d), dtype=bool)
    )
    return DenseBlockPrep(s, d, w, v_ids, s_pos, d_pos, d_in_block)


def louvain_block_local_dense(
    s: np.ndarray,
    d: np.ndarray,
    w: np.ndarray,
    comm_arr: np.ndarray,
    deg_arr: np.ndarray,
    tot_arr: np.ndarray,
    m2: float,
    min_gain: float = 0.0,
    max_inner: int = 6,
    seed: int = 0,
    pre: DenseBlockPrep | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-local-convergence kernel for DENSE global state arrays.

    The barrier engine holds ``comm_arr`` / ``deg_arr`` / ``tot_arr``
    indexed directly by vertex/community id, so every totals lookup is a
    vectorized gather instead of a binary search into a sorted community
    table — profiling shows `searchsorted` into a 10^6-entry table costs
    ~400 ms per megarow pass vs ~20 ms for direct indexing.

    ``pre`` (optional): the block's :class:`DenseBlockPrep`, for callers
    that run MANY sweeps over the same block (the barrier engine) — the
    structural maps are community-independent, so hoisting them out of the
    sweep loop removes the kernel's whole per-sweep setup cost.

    Mutates nothing global: totals are copied and updated by local deltas;
    ghosts (dst outside the block) stay at their sweep-start communities.
    Returns (vertices, new_comms) for the block's src vertices.
    """
    if pre is None:
        if len(s) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        pre = prepare_dense_block(s, d, w, len(comm_arr))
    s, d, w, v_ids, s_pos, d_pos, d_in_block = pre
    if len(v_ids) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    v_comm = comm_arr[v_ids].copy()
    v_deg = deg_arr[v_ids].astype(np.float64)
    tot = tot_arr.astype(np.float64, copy=True)
    ghost_comm = comm_arr[d]

    zero_streak = 0
    for inner in range(max_inner):
        c_now = np.where(d_in_block, v_comm[d_pos], ghost_comm)
        h = (
            v_ids * np.int64(0x9E3779B9)
            + np.int64(seed * 1315423911 + inner)
        ) & np.int64(0x7FFFFFFF)
        active = (h >> 13) & 1 == 0
        mover_pos, mover_comm = _vectorized_moves(
            s_pos,
            c_now,
            w,
            v_comm,
            v_deg,
            lambda cc: tot[cc],
            m2,
            min_gain,
            active=active,
        )
        if len(mover_pos) == 0:
            zero_streak += 1
            if zero_streak >= 3:
                break
            continue
        zero_streak = 0
        np.subtract.at(tot, v_comm[mover_pos], v_deg[mover_pos])
        np.add.at(tot, mover_comm, v_deg[mover_pos])
        v_comm[mover_pos] = mover_comm
        if inner >= 2 and len(mover_pos) <= max(1, len(v_ids) // 500):
            break
    return v_ids, v_comm


def louvain_vectorized_edges(
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray,
    m2: float | None = None,
    max_sweeps: int = 60,
    anneal: bool = False,
) -> tuple[np.ndarray, np.ndarray, int, float, bool]:
    """Whole-graph vectorized Louvain level (single-process numpy loop).

    The mid-size local-mode path: same bulk-synchronous semantics as the
    superstep driver (hashed active halves, zero-move convergence) but with
    numpy recomputing community totals between passes — no per-sweep Spark
    jobs and no per-vertex Python loop.  Returns
    ``(vertices, communities, sweeps, Q, improved)`` like
    :func:`louvain_sequential_edges`.
    """
    ids = np.unique(np.concatenate([src, dst]))
    s0 = np.searchsorted(ids, src)
    d0 = np.searchsorted(ids, dst)
    s, d, w = symmetrize_dedup_edges(s0, d0, weight)
    n = len(ids)
    deg = np.bincount(s, weights=w, minlength=n)
    if m2 is None:
        m2 = float(deg.sum())
    comm = np.arange(n, dtype=np.int64)
    keep = s != d
    self_s, self_w = s[~keep], w[~keep]  # deduped self-loops, once each
    s, d, w = s[keep], d[keep], w[keep]
    v_ids = np.arange(n, dtype=np.int64)

    def q_of(c: np.ndarray) -> float:
        # in[c] = Σ same-community symmetric weight, self-loop rows included
        # once (they carry 2x internal weight after coarsening)
        tot_c = np.bincount(c, weights=deg, minlength=n)
        same = c[s] == c[d]
        in_arr = np.bincount(c[s[same]], weights=w[same], minlength=n)
        if len(self_s):
            in_arr = in_arr + np.bincount(c[self_s], weights=self_w, minlength=n)
        return modularity(in_arr, tot_c, m2)

    # synchronous dynamics can end a bounded run MID-OSCILLATION with Q
    # below an earlier state (hypothesis-found on tiny graphs: pair swaps
    # net-lower Q); track the best-Q snapshot and return THAT.  One O(E)
    # Q evaluation per sweep — noise next to the move pass itself.
    improved = False
    sweeps = 0
    zero_streak = 0
    best_moves = float("inf")
    best_sweep = -1
    best_q = q_of(comm)
    best_comm = comm.copy()
    for sweep in range(max_sweeps):
        sweeps += 1
        tot = np.bincount(comm, weights=deg, minlength=n)
        h = (v_ids * np.int64(0x9E3779B9) + np.int64(sweep * 2654435761)) & np.int64(
            0x7FFFFFFF
        )
        active = (h >> 13) & 1 == 0
        if sweep == 0:
            active = np.ones(n, dtype=bool)
        # ids are locally densified (v_ids == arange(n)), so the row's src
        # value IS its block position — no id->position map needed
        mover_pos, mover_comm = _vectorized_moves(
            s,
            comm[d],
            w,
            comm,
            deg,
            lambda cc: tot[cc],
            m2,
            float(np.exp(-(sweep + 1))) if anneal else 0.0,
            active=active,
        )
        if len(mover_pos):
            # label-chase collapse (the sql engine's pointer jump, same
            # scoping): a community is labeled by its representative's id,
            # so when v adopts label u in the SAME sweep that u itself
            # moves, v would otherwise chase u one sweep per hop and the
            # hashed-halves cascade stretches the level to ~log(n) sweeps.
            # Chase exactly one hop, movers only, against the mid-state —
            # a mutual swap (u<->w) maps both back to themselves, which
            # also neutralizes synchronous pair-swaps.
            old = comm[mover_pos].copy()
            moved_flag = np.zeros(n, dtype=bool)
            moved_flag[mover_pos] = True
            mid = comm.copy()
            mid[mover_pos] = mover_comm
            chase = moved_flag[mover_comm]
            final_label = np.where(chase, mid[mover_comm], mover_comm)
            comm[mover_pos] = final_label
            n_moved = int((final_label != old).sum())
            q_now = q_of(comm)
            if q_now > best_q + 1e-15:
                best_q = q_now
                best_comm = comm.copy()
                improved = True
            if n_moved == 0:
                zero_streak += 1
                if zero_streak >= 3:
                    break
                continue
            zero_streak = 0
            # near-convergence exit (the kernel-internal twin of the
            # superstep loops' min_moves_frac): under 0.1% of vertices
            # still moving is label churn — the best-Q snapshot below
            # protects quality, and coarse levels otherwise spend 10+
            # one-mover sweeps here (pure serial time on the level driver)
            if sweep > 0 and n_moved <= max(1, n // 1000):
                break
            # stall exit: a handful of vertices toggling between equal-gain
            # homes can trickle 1-2 moves per sweep indefinitely; if the
            # per-sweep floor hasn't improved for 6 sweeps the residual is
            # label churn, not structure (same rule as the superstep loops)
            if n_moved < best_moves:
                best_moves, best_sweep = n_moved, sweep
            elif sweep - best_sweep >= 6:
                break
        else:
            zero_streak += 1
            if zero_streak >= 3:
                break
    return ids, ids[best_comm], sweeps, best_q, improved


def pair_sums(
    src: np.ndarray, dst: np.ndarray, weight: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``weight`` summed per distinct ``(src, dst)`` pair, pairs ascending:
    the coarse-edge reduce (src/community.cpp:162-201).  Ids must be
    non-negative and below ~3·10^9, so that ``src * n + dst`` fits int64."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    if not len(src):
        return src, dst, np.empty(0, dtype=np.float64)
    n = int(max(src.max(), dst.max())) + 1
    keys, inv = np.unique(src * n + dst, return_inverse=True)
    sums = np.bincount(inv.ravel(), weights=weight, minlength=len(keys))
    return keys // n, keys % n, sums


def min_root(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Connected components of the undirected edges ``(u[i], v[i])`` over
    the dense range ``[0, n)``: ``root[x]`` is the least index in ``x``'s
    component.

    Each round every root hooks onto the least root across its edges
    (``np.minimum.at``), then pointer jumping flattens the forest.  A
    parent only ever decreases, so the forest stays acyclic and every
    round that finds an edge between two trees removes at least one root:
    the loop ends without a round cap, and each root is the least index of
    its tree.  An edge whose ends share a root stays inside one tree for
    good (trees only merge), so it is dropped.  Edge direction, duplicates
    and self-loops do not matter.
    """
    root = np.arange(n, dtype=np.int64)
    u = np.asarray(u, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    while True:
        ru, rv = root[u], root[v]
        live = ru != rv
        if not live.any():
            return root
        u, v, ru, rv = u[live], v[live], ru[live], rv[live]
        np.minimum.at(root, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped
