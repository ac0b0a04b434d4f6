"""Spark-free golden tests for the numpy kernels (SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pytest

from parallel_louvain_method_spark.functions import kernels
from tests.conftest import (
    CSR5_EDGES,
    EPS,
    GOLDEN16_EDGES,
    GOLDEN16_N_COMMUNITIES,
    GOLDEN16_Q_FINAL,
    GOLDEN16_Q_INITIAL,
)


def _arrays(edges):
    e = np.array(edges)
    return e[:, 0], e[:, 1], np.ones(len(e))


def test_csr5_layout_matches_reference():
    # golden arrays from /root/reference/tests/main_test.cpp:23-30
    csr = kernels.pack_csr(*_arrays(CSR5_EDGES))
    assert csr.row_index.tolist() == [0, 2, 5, 8, 9, 10]
    assert csr.column_index.tolist() == [1, 2, 0, 2, 3, 0, 1, 4, 1, 2]
    assert csr.weights.tolist() == [1.0] * 10
    assert csr.ecount == 5


def test_golden16_sequential_louvain():
    csr = kernels.pack_csr(*_arrays(GOLDEN16_EDGES))
    assert csr.ecount == 28  # tests/main_test.cpp:64
    deg = kernels.weighted_degrees(csr)
    m2 = 2.0 * csr.ecount
    q0 = kernels.modularity(np.zeros(16), deg, m2)
    assert q0 == pytest.approx(GOLDEN16_Q_INITIAL, abs=EPS)
    comm, in_w, tot, qs, improved = kernels.louvain_sequential(csr)
    assert improved
    assert qs[-1] == pytest.approx(GOLDEN16_Q_FINAL, abs=EPS)
    assert len(set(comm.tolist())) == GOLDEN16_N_COMMUNITIES


def test_symmetrize_dedup_set_semantics():
    # exact duplicate collapses; parallel edge with different weight survives
    src = np.array([0, 0, 0])
    dst = np.array([1, 1, 1])
    w = np.array([1.0, 1.0, 2.0])
    s, d, ww = kernels.symmetrize_dedup_edges(src, dst, w)
    assert len(s) == 4  # (0,1,1) (0,1,2) (1,0,1) (1,0,2)
    # self-loop symmetrizes onto itself -> single entry
    s, d, ww = kernels.symmetrize_dedup_edges(
        np.array([2]), np.array([2]), np.array([3.0])
    )
    assert len(s) == 1


def test_self_loop_degree_counts_once():
    # src/graph.cpp:238-247: weighted_degree sums the CSR row; the deduped
    # self-loop contributes once
    csr = kernels.pack_csr(np.array([0, 0]), np.array([0, 1]), np.array([2.0, 1.0]))
    deg = kernels.weighted_degrees(csr)
    assert deg[0] == pytest.approx(3.0)
    assert deg[1] == pytest.approx(1.0)


def test_modularity_bounds_property():
    rng = np.random.default_rng(42)
    for _ in range(5):
        n = 30
        m = 80
        src = rng.integers(0, n, m)
        dst = rng.integers(0, n, m)
        w = np.ones(m)
        keep = src != dst
        csr = kernels.pack_csr(src[keep], dst[keep], w[keep])
        comm, in_w, tot, qs, _ = kernels.louvain_sequential(csr)
        assert all(-0.5 - 1e-9 <= q <= 1.0 + 1e-9 for q in qs)
        # modularity non-decreasing across sweeps (greedy local moves)
        assert all(qs[i + 1] >= qs[i] - 1e-9 for i in range(len(qs) - 1))


# --- hypothesis property tests (Spark-free, milliseconds each) -------------

from hypothesis import given, settings, strategies as st


@st.composite
def random_edge_lists(draw, max_n=24, max_m=60):
    n = draw(st.integers(min_value=2, max_value=max_n))
    m = draw(st.integers(min_value=1, max_value=max_m))
    src = draw(
        st.lists(st.integers(0, n - 1), min_size=m, max_size=m)
    )
    dst = draw(
        st.lists(st.integers(0, n - 1), min_size=m, max_size=m)
    )
    w = draw(
        st.lists(
            st.floats(min_value=0.25, max_value=4.0, allow_nan=False),
            min_size=m,
            max_size=m,
        )
    )
    return np.array(src), np.array(dst), np.array(w)


@given(random_edge_lists())
@settings(max_examples=60, deadline=None)
def test_symmetrize_dedup_invariants(e):
    """set semantics: output symmetric, exact-duplicate-free, sorted."""
    src, dst, w = e
    s, d, ww = kernels.symmetrize_dedup_edges(src, dst, w)
    triples = list(zip(s.tolist(), d.tolist(), ww.tolist()))
    assert len(triples) == len(set(triples))  # dedup
    assert triples == sorted(triples)  # (src, dst, weight) order
    fwd = set(zip(s.tolist(), d.tolist(), ww.tolist()))
    assert all((b, a, x) in fwd for a, b, x in fwd)  # symmetric


@given(random_edge_lists())
@settings(max_examples=40, deadline=None)
def test_csr_degree_mass_conservation(e):
    """Σ weighted_degree == Σ CSR weights; row_index is a valid prefix sum."""
    src, dst, w = e
    csr = kernels.pack_csr(src, dst, w)
    assert np.all(np.diff(csr.row_index) >= 0)
    assert csr.row_index[-1] == len(csr.column_index)
    deg = kernels.weighted_degrees(csr)
    assert deg.sum() == pytest.approx(csr.weights.sum())


@given(random_edge_lists())
@settings(max_examples=30, deadline=None)
def test_louvain_sequential_improves_or_holds(e):
    """Greedy local moves never decrease modularity; every vertex keeps a
    valid community label; labels form existing vertex ids."""
    src, dst, w = e
    keep = src != dst
    if not keep.any():
        return
    csr = kernels.pack_csr(src[keep], dst[keep], w[keep])
    n = len(csr.row_index) - 1
    deg = kernels.weighted_degrees(csr)
    m2 = float(csr.weights.sum())
    q0 = kernels.modularity(np.zeros(n), deg, m2)
    comm, in_w, tot, qs, improved = kernels.louvain_sequential(csr, m2=m2)
    assert qs[-1] >= q0 - 1e-9
    assert all(qs[i + 1] >= qs[i] - 1e-9 for i in range(len(qs) - 1))
    assert comm.min() >= 0 and comm.max() < n
    # community totals conserve total degree mass
    assert tot.sum() == pytest.approx(deg.sum())


@given(random_edge_lists())
@settings(max_examples=30, deadline=None)
def test_vectorized_matches_quality_class(e):
    """The vectorized whole-graph level lands within the same quality class
    as the sequential reference semantics (synchronous dynamics may differ
    in exact partition, but Q must be >= the singleton baseline and not
    collapse)."""
    src, dst, w = e
    keep = src != dst
    if not keep.any():
        return
    ids, comm_s, _, q_seq, _ = kernels.louvain_sequential_edges(
        src[keep], dst[keep], w[keep]
    )
    ids_v, comm_v, _, q_vec, _ = kernels.louvain_vectorized_edges(
        src[keep], dst[keep], w[keep]
    )
    assert ids.tolist() == ids_v.tolist()
    # both run on m2 = total symmetric weight; singleton baseline Q0 <= both
    # (the vectorized engine returns its best-Q snapshot, so synchronous
    # oscillation can never leave it below the start state)
    s_d = np.searchsorted(ids, src[keep])
    d_d = np.searchsorted(ids, dst[keep])
    csr = kernels.pack_csr(s_d, d_d, w[keep], n=len(ids))
    deg = kernels.weighted_degrees(csr)
    q0 = kernels.modularity(np.zeros(len(deg)), deg, float(csr.weights.sum()))
    assert q_seq >= q0 - 1e-9
    assert q_vec >= q0 - 1e-9


@given(random_edge_lists())
@settings(max_examples=30, deadline=None)
def test_dense_kernel_prep_hoist_parity(e):
    """louvain_block_local_dense(pre=prepare_dense_block(...)) is
    bit-identical to the self-prepping call: the structural maps are
    community-independent, so hoisting them (the barrier engine's per-level
    optimization) must not change a single move."""
    src, dst, w = e
    keep = src != dst
    if not keep.any():
        return
    src, dst, w = src[keep], dst[keep], w[keep]
    nv = int(max(src.max(), dst.max())) + 1
    s = src.astype(np.int32)
    d = dst.astype(np.int32)
    comm = np.arange(nv, dtype=np.int64)
    deg = np.bincount(s, weights=w, minlength=nv) + np.bincount(
        d, weights=w, minlength=nv
    )
    m2 = float(deg.sum())
    tot = np.bincount(comm, weights=deg, minlength=nv)
    pre = kernels.prepare_dense_block(s, d, w, nv)
    for seed in (0, 1):
        v_a, c_a = kernels.louvain_block_local_dense(
            s, d, w, comm, deg, tot, m2, seed=seed
        )
        v_b, c_b = kernels.louvain_block_local_dense(
            s, d, w, comm, deg, tot, m2, seed=seed, pre=pre
        )
        assert v_a.tolist() == v_b.tolist()
        assert c_a.tolist() == c_b.tolist()


def _py_min_root(edges, n):
    """Plain-Python union-find: each vertex's least component member."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n)]


@given(
    st.integers(1, 40).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
                max_size=80,
            ),
        )
    )
)
@settings(max_examples=200, deadline=None)
def test_min_root_matches_union_find(case):
    """Equal to a plain-Python union-find; ids no edge touches stay
    singletons."""
    n, edges = case
    e = np.array(edges, dtype=np.int64).reshape(-1, 2)
    got = kernels.min_root(e[:, 0], e[:, 1], n)
    assert got.tolist() == _py_min_root(edges, n)


@pytest.mark.parametrize("order", ["sorted", "reversed", "permuted"])
def test_min_root_paths(order):
    """Paths are the worst edge orders for min-hooking."""
    n = 5_000
    p = {
        "sorted": np.arange(n),
        "reversed": np.arange(n)[::-1],
        "permuted": np.random.default_rng(1).permutation(n),
    }[order]
    root = kernels.min_root(p[:-1], p[1:], n + 2)
    assert root.tolist() == [0] * n + [n, n + 1]


def test_pair_sums_matches_dict_reference():
    """``pair_sums`` against a per-row dict accumulation: every distinct
    (src, dst) once, in ascending order, with its summed weight."""
    rng = np.random.default_rng(5)
    s = rng.integers(0, 30, 2000)
    d = rng.integers(0, 30, 2000)
    w = rng.integers(1, 4, 2000).astype(np.float64)
    ref: dict = {}
    for a, b, x in zip(s.tolist(), d.tolist(), w.tolist()):
        ref[(a, b)] = ref.get((a, b), 0.0) + x
    us, ud, uw = kernels.pair_sums(s, d, w)
    assert list(zip(us.tolist(), ud.tolist())) == sorted(ref)
    assert uw.tolist() == [ref[k] for k in sorted(ref)]
    empty = kernels.pair_sums(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
    assert [len(a) for a in empty] == [0, 0, 0]
