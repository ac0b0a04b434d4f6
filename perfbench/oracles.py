"""Independent oracles for the benchmark's outputs.

None of these import the package: each recomputes its answer from the
generated corpus or from the collected program output with pandas, numpy,
networkx or DuckDB.  Each returns ``(ok, detail)``.
"""

from __future__ import annotations

import duckdb
import networkx as nx
import numpy as np
import pandas as pd


def _keyed(corpus: pd.DataFrame, graph: str) -> pd.DataFrame:
    if graph == "file":
        node = corpus["repo"] + "::" + corpus["path"]
        bucket = corpus["repo"] + "@" + corpus["commit"]
    else:
        node, bucket = corpus["repo"], corpus["content"]
    return pd.DataFrame({"bucket": bucket, "node": node}).drop_duplicates()


def capped_pairs(corpus: pd.DataFrame, graph: str, max_group: int = 1000):
    """The builders' output from pandas: ``(names, pairs, n_dropped)``.

    ``graph`` is ``"file"`` (co-commit) or ``"repo"`` (shared content).
    ``names`` is every node name sorted (the dense id order), ``pairs`` is
    ``(a, b, weight)`` over indexes into ``names`` with ``a < b``, and
    buckets of more than ``max_group`` nodes are dropped and counted."""
    keyed = _keyed(corpus, graph)
    names, node = np.unique(keyed["node"].to_numpy(), return_inverse=True)
    bucket = pd.factorize(keyed["bucket"])[0]
    sizes = np.bincount(bucket)
    ok = pd.DataFrame({"bucket": bucket, "node": node})[sizes[bucket] <= max_group]
    pairs = ok.merge(ok, on="bucket", suffixes=("_a", "_b"))
    pairs = pairs[pairs["node_a"] < pairs["node_b"]]
    key = pairs["node_a"].to_numpy() * len(names) + pairs["node_b"].to_numpy()
    key, weight = np.unique(key, return_counts=True)
    pairs = pd.DataFrame({"a": key // len(names), "b": key % len(names),
                          "weight": weight.astype("float64")})
    return names, pairs, int((sizes > max_group).sum())


def check_edge_build(expected, edges: pd.DataFrame, id_map: pd.DataFrame,
                     n_dropped: int):
    """Program edges and id map against the pandas build: the id map ranks
    names densely in sorted order, and the edge set, edge count, weight sum
    and dropped-bucket count all match."""
    names, pairs, want_dropped = expected
    m = id_map.sort_values("new_id")
    if not (np.array_equal(m["new_id"].to_numpy(), np.arange(len(names)))
            and np.array_equal(m["name"].to_numpy(), names)):
        return False, f"id map is not the dense sorted rank of {len(names)} names"
    src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
    got = pd.DataFrame({"a": np.minimum(src, dst), "b": np.maximum(src, dst),
                        "weight": edges["weight"].to_numpy()})
    detail = (f"edges {len(got)}/{len(pairs)} weight {got['weight'].sum():.1f}/"
              f"{pairs['weight'].sum():.1f} dropped {n_dropped}/{want_dropped}")
    if len(got) != len(pairs) or n_dropped != want_dropped:
        return False, detail
    joined = got.merge(pairs, on=["a", "b"], how="outer", suffixes=("", "_want"))
    ok = bool((joined["weight"] == joined["weight_want"]).all())
    return ok, detail


def modularity(edges: pd.DataFrame, assign: pd.DataFrame):
    """Q of ``assign (vtx, comm)`` on the undirected ``edges (src, dst,
    weight)``; every edge endpoint must be assigned exactly once.
    Returns ``(q, problem)``, ``problem`` None when the assignment is
    valid."""
    vtx = assign["vtx"].to_numpy()
    if len(np.unique(vtx)) != len(vtx):
        return float("nan"), "a vertex is assigned more than once"
    ends = np.unique(np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]))
    comm_of = pd.Series(assign["comm"].to_numpy(), index=vtx)
    missing = np.setdiff1d(ends, vtx)
    if len(missing):
        return float("nan"), f"{len(missing)} edge endpoints unassigned"
    w = edges["weight"].to_numpy(dtype=np.float64)
    cs = comm_of.loc[edges["src"].to_numpy()].to_numpy()
    cd = comm_of.loc[edges["dst"].to_numpy()].to_numpy()
    m2 = 2.0 * w.sum()
    internal = 2.0 * w[cs == cd].sum()
    tot = pd.Series(np.concatenate([w, w])).groupby(np.concatenate([cs, cd])).sum()
    return float(internal / m2 - ((tot.to_numpy() / m2) ** 2).sum()), None


def check_modularity(edges, assign, reported: float):
    q, problem = modularity(edges, assign)
    if problem:
        return False, problem
    return abs(q - reported) <= 1e-6, f"numpy Q {q:.9f} reported {reported:.9f}"


def same_partition(a: pd.DataFrame, b: pd.DataFrame, col_a="comm", col_b="comm") -> bool:
    """True when both assignments cover the same vertices and group them
    identically (labels may differ)."""
    j = a[["vtx", col_a]].merge(b[["vtx", col_b]], on="vtx", suffixes=("_a", "_b"))
    if len(j) != len(a) or len(j) != len(b):
        return False
    ca, cb = j.columns[1], j.columns[2]
    pairs = j[[ca, cb]].drop_duplicates()
    return pairs[ca].is_unique and pairs[cb].is_unique


def check_pagerank(edges: pd.DataFrame, ranks: pd.DataFrame, iters: int, damping=0.85):
    """Weighted PageRank over both directions of the undirected ``edges``,
    ``iters`` fixed iterations from the uniform vector."""
    src = np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()])
    dst = np.concatenate([edges["dst"].to_numpy(), edges["src"].to_numpy()])
    verts = np.unique(src)
    n = len(verts)
    s = np.searchsorted(verts, src)
    d = np.searchsorted(verts, dst)
    w = np.concatenate([edges["weight"].to_numpy(dtype=np.float64)] * 2)
    out_w = np.bincount(s, weights=w, minlength=n)
    dangling = out_w == 0
    frac = w / out_w[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = ((1 - damping) / n + damping * np.bincount(d, weights=frac * r[s], minlength=n)
             + damping * r[dangling].sum() / n)
    got = ranks.set_index("vtx")["rank"].reindex(verts).to_numpy()
    if len(ranks) != n or np.isnan(got).any():
        return False, f"{len(ranks)} ranks for {n} vertices"
    err = float(np.max(np.abs(got - r)))
    return bool(np.allclose(got, r, rtol=1e-6, atol=1e-12)), f"max abs err {err:.3g}"


def components(edges: pd.DataFrame) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].to_numpy().tolist(), edges["dst"].to_numpy().tolist()))
    return g


def check_components(g: nx.Graph, cc: pd.DataFrame):
    """Exact: one row per vertex, label = smallest vertex id of its
    component."""
    want = {v: min(c) for c in nx.connected_components(g) for v in c}
    got = dict(zip(cc["vtx"].tolist(), cc["component"].tolist()))
    n_comp = len(set(want.values()))
    return got == want, f"{len(set(got.values()))}/{n_comp} components"


def check_label_confinement(g: nx.Graph, labels: pd.DataFrame):
    """Every vertex labelled once, and every label inside one component."""
    comp = {v: i for i, c in enumerate(nx.connected_components(g)) for v in c}
    if set(labels["vtx"]) != set(comp) or not labels["vtx"].is_unique:
        return False, "label rows do not match the vertex set"
    spread = labels.assign(c=labels["vtx"].map(comp)).groupby("label")["c"].nunique()
    return bool((spread == 1).all()), f"{len(spread)} labels"


def check_triangles(edges: pd.DataFrame, reported: int):
    """Exact triangle count of the simple undirected graph, in DuckDB."""
    e = pd.DataFrame({"a": np.minimum(edges["src"], edges["dst"]),
                      "b": np.maximum(edges["src"], edges["dst"])})
    e = e[e["a"] != e["b"]].drop_duplicates()
    con = duckdb.connect()
    try:
        con.register("e", e)
        want = con.execute(
            "select count(*) from e e1 join e e2 on e1.b = e2.a "
            "join e e3 on e3.a = e1.a and e3.b = e2.b"
        ).fetchone()[0]
    finally:
        con.close()
    return int(want) == int(reported), f"duckdb {want} reported {reported}"
