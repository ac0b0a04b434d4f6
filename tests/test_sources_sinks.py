"""Source/sink seam tests (SURVEY.md S4/S5/S6 — untested in round 1).

The read paths over the reference's own files live in
tests/test_reference_data.py; here: the write paths round-trip, the
membership sink shape, and the corpus reader's parquet seam.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parallel_louvain_method_spark.operators import graph as G
from parallel_louvain_method_spark.sources.corpus import (
    CORPUS_COLUMNS,
    read_corpus,
    synth_corpus,
)
from parallel_louvain_method_spark.sources.edges import (
    community_membership,
    read_edge_parquet,
    write_communities,
    write_edges,
)


def test_write_edges_roundtrip(spark, golden16_df, tmp_path):
    """S5: the sink writes ONE direction (src <= dst, src/graph.cpp:332);
    symmetrize of the readback reproduces the original symmetric table."""
    sym = G.symmetric_edges(golden16_df)
    out = str(tmp_path / "edges")
    write_edges(sym, out)
    back = read_edge_parquet(spark, out)
    assert back.count() == 28  # one row per undirected edge
    assert back.filter(F.col("src") > F.col("dst")).count() == 0
    diff = G.symmetric_edges(back).exceptAll(sym)
    assert diff.count() == 0 and sym.exceptAll(G.symmetric_edges(back)).count() == 0


def test_write_communities_roundtrip(spark, golden16_df, tmp_path):
    """S4: membership sink (reference gathers + writes per-community text,
    src/distcommunity.cpp:637-709; a parallel parquet writer replaces it)."""
    from parallel_louvain_method_spark.operators.louvain import louvain

    res = louvain(spark, golden16_df)
    out = str(tmp_path / "comms")
    write_communities(res.assignment, out)
    back = spark.read.parquet(out)
    assert back.count() == 16
    orig = {(r["vtx"], r["comm"]) for r in res.assignment.collect()}
    assert {(r["vtx"], r["comm"]) for r in back.collect()} == orig

    members = community_membership(res.assignment).collect()
    assert sum(r["size"] for r in members) == 16
    for r in members:
        assert r["members"] == sorted(r["members"])  # sorted member lists
        assert r["size"] == len(r["members"])


def test_read_corpus_parquet_seam(spark, tmp_path):
    """S6: the iceberg->parquet fallback yields exactly CORPUS_COLUMNS, and
    extra columns in the file are pruned by the reader's projection."""
    corpus = synth_corpus(spark, n_repos=6, files_per_repo=4, commits_per_repo=2)
    out = str(tmp_path / "corpus")
    corpus.withColumn("extra_junk", F.lit(1)).write.parquet(out)
    back = read_corpus(spark, out)
    assert back.columns == CORPUS_COLUMNS
    assert back.count() == corpus.count()
    # sha256 invariant: identical content -> identical hashes after the trip
    a = corpus.select(F.sha2("content", 256).alias("h")).distinct()
    b = back.select(F.sha2("content", 256).alias("h")).distinct()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cli_louvain_engine_flags(spark, tmp_path, golden16_df, capsys,
                                  monkeypatch):
    """``plm louvain --help`` parses and offers only the barrier and sql
    engines (no ``--blocks``, no ``numpy_broadcast``), takes
    ``--local-threshold`` in place of ``--mode``, and ``--engine sql``
    reaches ``louvain(superstep_engine="sql")``."""
    from parallel_louvain_method_spark import cli
    from parallel_louvain_method_spark.operators import louvain as L

    with pytest.raises(SystemExit) as ex:
        cli.main(["louvain", "--help"])
    assert ex.value.code == 0
    helptext = capsys.readouterr().out
    assert "--engine" in helptext and "{auto,barrier,sql}" in helptext
    assert "--blocks" not in helptext and "numpy_broadcast" not in helptext
    assert "--local-threshold" in helptext and "--mode" not in helptext
    for bad in (
        ["--blocks", "4"], ["--engine", "numpy_broadcast"],
        ["--mode", "superstep"],
    ):
        with pytest.raises(SystemExit) as ex:
            cli.main(["louvain", "--edges", "e", "--out", "o", *bad])
        assert ex.value.code == 2, bad

    edges_path = str(tmp_path / "edges")
    golden16_df.write.parquet(edges_path)
    seen = {}

    def fake_louvain(spark_, edges, **kw):
        seen.update(kw)
        raise RuntimeError("stop after dispatch")

    monkeypatch.setattr(L, "louvain", fake_louvain)
    with pytest.raises(RuntimeError, match="stop after dispatch"):
        cli.main(["louvain", "--edges", edges_path, "--out",
                  str(tmp_path / "o"), "--engine", "sql"])
    assert seen["superstep_engine"] == "sql"


def test_cli_louvain_sql_skew_salt(spark, tmp_path, golden16_df):
    """The louvain subcommand drives the sql engine with explicit salting
    end-to-end: parquet edges in, community parquet out, same communities
    as the library call."""
    from parallel_louvain_method_spark.cli import main
    from parallel_louvain_method_spark.operators.louvain import louvain

    edges_path = str(tmp_path / "edges")
    golden16_df.write.parquet(edges_path)
    out = str(tmp_path / "comms")
    assert main(["louvain", "--edges", edges_path, "--out", out,
                 "--local-threshold", "0", "--engine", "sql",
                 "--skew-salt", "4"]) == 0
    got = {r["vtx"]: r["comm"] for r in spark.read.parquet(out).collect()}
    ref = louvain(spark, golden16_df, local_threshold=0,
                  superstep_engine="sql")
    want = {r["vtx"]: r["comm"] for r in ref.assignment.collect()}
    assert got == want

    # kcore + coefficient subcommands over the same parquet edges
    out_kc = str(tmp_path / "core2")
    assert main(["kcore", "--edges", edges_path, "--out", out_kc,
                 "--k", "2"]) == 0
    # golden16's 2-core is 0..14 (independent peel, BASELINE verify note)
    assert {r["vtx"] for r in spark.read.parquet(out_kc).collect()} == set(
        range(15)
    )
    out_cf = str(tmp_path / "coeffs")
    assert main(["triangles", "--edges", edges_path,
                 "--coefficients", out_cf]) == 0
    assert spark.read.parquet(out_cf).count() == 16
    # full decomposition subcommand: consistent with the kcore membership
    # (coreness >= 2 exactly on the 2-core)
    out_cn = str(tmp_path / "coreness")
    assert main(["coreness", "--edges", edges_path, "--out", out_cn]) == 0
    cores = {
        r["vtx"]: r["coreness"]
        for r in spark.read.parquet(out_cn).collect()
    }
    assert {v for v, c in cores.items() if c >= 2} == set(range(15))
    # msf subcommand: golden16 is connected -> exactly 15 forest edges;
    # unit weights, so the cut at 1.0 is one 16-vertex cluster
    out_ms = str(tmp_path / "msf")
    out_cl = str(tmp_path / "msf_clusters")
    assert main(["msf", "--edges", edges_path, "--out", out_ms,
                 "--cut", "1.0", "--clusters-out", out_cl]) == 0
    forest = spark.read.parquet(out_ms)
    assert forest.count() == 15
    assert set(forest.columns) == {"a", "b", "w"}
    clusters = spark.read.parquet(out_cl)
    assert clusters.count() == 16
    assert clusters.select("cluster").distinct().count() == 1


def test_cli_pipeline_subcommands(spark, tmp_path):
    """The spark-submit CLI covers the pipeline ops too (dedup / knn /
    text) — a reference user drives everything through one entrypoint."""
    from parallel_louvain_method_spark.cli import main

    docs_src = "/root/testdata/sf0.001/documents.parquet"
    emb_src = "/root/testdata/sf0.001/embeddings.parquet"
    out1 = str(tmp_path / "dups")
    assert main(["dedup", "--docs", docs_src, "--out", out1,
                 "--method", "exact"]) == 0
    spark.read.parquet(out1)  # readable sink with the op's schema
    out2 = str(tmp_path / "knn")
    assert main(["knn", "--embeddings", emb_src, "--out", out2,
                 "--method", "ivf", "--k", "2"]) == 0
    got = spark.read.parquet(out2)
    assert {"query_id", "neighbor_id", "cosine", "rank"} <= set(got.columns)
    assert got.count() > 0
    out3 = str(tmp_path / "tok")
    assert main(["text", "--docs", docs_src, "--out", out3,
                 "--op", "tokens"]) == 0
    n_docs = spark.read.parquet(docs_src).count()
    assert spark.read.parquet(out3).count() == n_docs


def test_cli_metrics_subcommand(spark, tmp_path, golden16_df, capsys):
    """`plm metrics` reports assortativity + ANF/effective diameter and
    writes partition-quality parquet for a (vtx, community) assignment."""
    import json

    import pytest

    from parallel_louvain_method_spark.cli import main
    from tests.conftest import GOLDEN16_ASSIGNMENT

    edges_path = str(tmp_path / "edges")
    golden16_df.write.parquet(edges_path)
    assign_path = str(tmp_path / "assign")
    spark.createDataFrame(
        list(GOLDEN16_ASSIGNMENT.items()), "vtx long, community long"
    ).write.parquet(assign_path)

    out = str(tmp_path / "pq")
    hout = str(tmp_path / "harm")
    assert main([
        "metrics", "--edges", edges_path, "--assignment", assign_path,
        "--out", out, "--anf-hops", "8", "--anf-method", "exact",
        "--harmonic-hops", "8", "--harmonic-out", hout,
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert -1.0 <= report["assortativity"] <= 1.0
    assert report["n_communities"] == 4
    assert 0.0 < report["worst_conductance"] < 1.0
    assert report["modularity"] == pytest.approx(0.346301, abs=1e-6)
    assert report["effective_diameter_90"] == 4
    assert report["harmonic_vertices"] == 16
    # vertex 10 (max degree) tops the harmonic ranking on golden16
    harm = {r["vtx"]: r["harmonic"] for r in spark.read.parquet(hout).collect()}
    assert max(harm, key=harm.get) == 10
    assert report["neighborhood_function"]["1"] == 72  # 2*28 edges + 16 selves
    got = spark.read.parquet(out)
    assert {"community", "volume", "cut_weight", "conductance"} <= set(
        got.columns
    )
    assert got.count() == 4


def test_cli_walks_subcommand(spark, tmp_path, golden16_df, capsys):
    import json

    from parallel_louvain_method_spark.cli import main

    edges_path = str(tmp_path / "edges")
    golden16_df.write.parquet(edges_path)
    out = str(tmp_path / "walks")
    assert main([
        "walks", "--edges", edges_path, "--out", out,
        "--length", "3", "--per-vertex", "2", "--seed", "5", "--sentences",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"walks": 32, "length": 3}
    got = spark.read.parquet(out)
    assert set(got.columns) == {"walk_id", "sentence"}
    assert got.count() == 32
    assert all(len(r["sentence"]) == 4 for r in got.collect())


def test_cli_centrality_subcommand(spark, tmp_path, golden16_df, capsys):
    """`plm centrality` writes eigenvector / hits / closeness parquet;
    the three kinds agree with the operators' own outputs."""
    import json

    from parallel_louvain_method_spark.cli import main

    edges_path = str(tmp_path / "edges")
    golden16_df.write.parquet(edges_path)

    out = str(tmp_path / "eig")
    assert main([
        "centrality", "--edges", edges_path, "--out", out,
        "--kind", "eigenvector", "--iters", "50", "--tol", "1e-10",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"kind": "eigenvector", "vertices": 16}
    eig = spark.read.parquet(out)
    assert set(eig.columns) == {"vtx", "score"}
    # vertex 10 (max degree) leads the golden16 eigenvector ranking
    scores = {r["vtx"]: r["score"] for r in eig.collect()}
    assert max(scores, key=scores.get) == 10

    out2 = str(tmp_path / "hits")
    assert main([
        "centrality", "--edges", edges_path, "--out", out2,
        "--kind", "hits", "--iters", "3", "--tol", "0",
    ]) == 0
    got = spark.read.parquet(out2)
    assert set(got.columns) == {"vtx", "hub", "authority"}
    assert got.count() == 16

    out3 = str(tmp_path / "close")
    assert main([
        "centrality", "--edges", edges_path, "--out", out3,
        "--kind", "closeness", "--hops", "8", "--method", "exact",
    ]) == 0
    close = {r["vtx"]: r["closeness"] for r in spark.read.parquet(out3).collect()}
    assert len(close) == 16
    assert max(close, key=close.get) == 10


def test_cli_dedup_clusters(spark, tmp_path, capsys):
    """`plm dedup --method clusters` writes cluster assignments and the
    kept corpus (keeper = min doc_id per transitive near-dup group)."""
    import json

    from parallel_louvain_method_spark.cli import main

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from every hunter"
    )
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, base), (2, base + " tonight"), (7, "something else entirely "
          "with a completely disjoint vocabulary set for this test")],
        "doc_id long, text string",
    ).write.parquet(docs_path)

    out = str(tmp_path / "clusters")
    kept = str(tmp_path / "kept")
    assert main([
        "dedup", "--docs", docs_path, "--out", out,
        "--method", "clusters", "--threshold", "0.5",
        "--kept-corpus", kept,
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"method": "clusters", "rows": 2}
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in spark.read.parquet(out).collect()}
    assert got == {1: (1, True), 2: (1, False)}
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(kept).collect()
    ) == [1, 7]


def test_cli_paths_scc_betweenness_subcommands(spark, tmp_path, golden16_df, capsys):
    """`plm sssp` / `plm scc [--condensation]` / `plm betweenness` write
    parquet matching the operators' outputs."""
    import json

    from parallel_louvain_method_spark.cli import main

    edges_path = str(tmp_path / "edges")
    golden16_df.write.parquet(edges_path)

    out = str(tmp_path / "sssp")
    assert main([
        "sssp", "--edges", edges_path, "--out", out,
        "--sources", "0,8", "--hops",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["reached_pairs"] == 32  # golden16 is connected: 16 x 2
    dists = {
        (r["vtx"], r["root"]): r["dist"]
        for r in spark.read.parquet(out).collect()
    }
    assert dists[(0, 0)] == 0.0 and dists[(8, 8)] == 0.0
    assert dists[(2, 0)] == 1.0

    # directed two-cycle + bridge + tail: known SCCs {0,1,2} {3,4,5} 6
    dedges = str(tmp_path / "dedges")
    spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 4, 1.0), (4, 5, 1.0),
         (5, 3, 1.0), (2, 3, 1.0), (5, 6, 1.0)],
        "src long, dst long, weight double",
    ).write.parquet(dedges)
    out2 = str(tmp_path / "scc")
    assert main(["scc", "--edges", dedges, "--out", out2]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"vertices": 7, "components": 3}

    out3 = str(tmp_path / "cond")
    assert main([
        "scc", "--edges", dedges, "--out", out3, "--condensation",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"dag_edges": 2}
    dag = sorted(
        (r["src"], r["dst"]) for r in spark.read.parquet(out3).collect()
    )
    assert dag == [(0, 3), (3, 6)]

    out5 = str(tmp_path / "bowtie")
    assert main(["bowtie", "--edges", dedges, "--out", out5]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # giant pick ties at size 3 -> min label {0,1,2}; {3,4,5} becomes OUT
    assert report == {"regions": {"CORE": 3, "OUT": 4}}

    out6 = str(tmp_path / "topo")
    assert main(["topo", "--edges", out3, "--out", out6]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"vertices": 3, "depth": 2}

    out4 = str(tmp_path / "btw")
    assert main([
        "betweenness", "--edges", edges_path, "--out", out4,
        "--sources", ",".join(str(v) for v in range(16)),
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["vertices"] == 16
    assert report["max_btw"] > 0.0
    btw = {r["vtx"]: r["btw"] for r in spark.read.parquet(out4).collect()}
    # vertex 10 is golden16's top broker (also the eigenvector leader)
    assert max(btw, key=btw.get) == 10


def test_kronecker_rmat_source(spark):
    """S3: deterministic RMAT stream — exact size, vertex range, seed
    sensitivity, permutation bijectivity, and skew (the whole point of
    RMAT: quadrant A concentrates degree)."""
    import duckdb

    from parallel_louvain_method_spark.sources.kronecker import (
        kronecker_edges,
        kronecker_oracle_sql,
    )

    df = kronecker_edges(spark, scale=7, edgefactor=8, seed=3)
    rows = df.collect()
    assert len(rows) == 8 << 7
    assert all(0 <= r["src"] < 128 and 0 <= r["dst"] < 128 for r in rows)
    # deterministic: same seed twice is identical, different seed is not
    again = kronecker_edges(spark, scale=7, edgefactor=8, seed=3).collect()
    assert [(r["src"], r["dst"]) for r in rows] == [
        (r["src"], r["dst"]) for r in again
    ]
    other = kronecker_edges(spark, scale=7, edgefactor=8, seed=4).collect()
    assert [(r["src"], r["dst"]) for r in rows] != [
        (r["src"], r["dst"]) for r in other
    ]
    # RMAT skew: the hottest vertex owns >> the uniform 2/|V| share
    from collections import Counter

    deg = Counter()
    for r in rows:
        deg[r["src"]] += 1
        deg[r["dst"]] += 1
    assert deg.most_common(1)[0][1] > 8 * (2 * len(rows) / 128)
    # permute=True relabels (bijection: multiset of degrees preserved)
    pdf = kronecker_edges(spark, scale=7, edgefactor=8, seed=3, permute=True)
    pdeg = Counter()
    for r in pdf.collect():
        pdeg[r["src"]] += 1
        pdeg[r["dst"]] += 1
    assert sorted(deg.values()) == sorted(pdeg.values())
    assert deg != pdeg  # actually relabeled
    # SQL replay is bit-exact
    o = duckdb.connect().execute(
        kronecker_oracle_sql(scale=7, edgefactor=8, seed=3, permute=True)
    ).df()
    got = sorted((r["src"], r["dst"]) for r in pdf.collect())
    assert got == sorted(zip(o["src"].tolist(), o["dst"].tolist()))


def test_kronecker_feeds_louvain_pipeline(spark):
    """The generated stream is a first-class edge source: P1-P4 cleanup +
    community detection run on it unchanged."""
    from parallel_louvain_method_spark.operators.louvain import louvain
    from parallel_louvain_method_spark.sources.kronecker import kronecker_edges

    g = kronecker_edges(spark, scale=6, edgefactor=6, seed=11)
    r = louvain(spark, g)
    assert r.modularity > 0.0
    assert r.assignment.count() > 0


def test_cli_rmat_subcommand(spark, tmp_path, capsys):
    import json

    from parallel_louvain_method_spark.cli import main

    out = str(tmp_path / "rmat")
    assert main([
        "rmat", "--out", out, "--scale", "6", "--edgefactor", "4",
        "--seed", "5", "--permute",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"edges": 256, "vertices": 64}
    df = spark.read.parquet(out)
    assert df.count() == 256
    assert df.columns == ["src", "dst", "weight"]
    assert df.agg(F.max(F.greatest("src", "dst"))).first()[0] < 64


def test_bucketed_join_has_no_shuffle(spark, tmp_path, golden16_df):
    """Two tables bucketed on src with equal bucket counts sort-merge join
    with zero Exchange on either side — the write-once/join-free-forever
    co-location contract of write_bucketed_edges."""
    from parallel_louvain_method_spark.plans.explain import (
        plan_text,
        shuffle_exchange_count,
    )
    from parallel_louvain_method_spark.sources.edges import (
        write_bucketed_edges,
    )

    deg = golden16_df.groupBy("src").agg(F.sum("weight").alias("k"))
    try:
        write_bucketed_edges(
            golden16_df, "e_b", str(tmp_path / "e"), n_buckets=4
        )
        write_bucketed_edges(deg, "d_b", str(tmp_path / "d"), n_buckets=4)
        joined = (
            spark.table("e_b")
            .hint("merge")
            .join(spark.table("d_b"), "src")
            .select("src", "dst", "k")
        )
        assert joined.count() == golden16_df.count()
        assert shuffle_exchange_count(joined) == 0, plan_text(joined)
        # the unbucketed control pays at least one exchange
        control = (
            golden16_df.hint("merge")
            .join(deg, "src")
            .select("src", "dst", "k")
        )
        assert shuffle_exchange_count(control) >= 1
    finally:
        spark.sql("DROP TABLE IF EXISTS e_b")
        spark.sql("DROP TABLE IF EXISTS d_b")
