"""Plan-quality tests: pushdown, pruning, broadcast, codegen (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parallel_louvain_method_spark.plans.explain import (
    assert_column_pruned,
    broadcast_join_count,
    pushed_filters,
    read_schemas,
    wholestage_codegen_spans,
)

SF_DIR = "/root/testdata/sf0.01"


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_partkey")
    )
    pf = pushed_filters(df)
    assert any("l_quantity" in p for p in pf), pf


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    schemas = read_schemas(df)
    assert schemas and all(
        "l_orderkey" in s and "l_comment" not in s and "l_extendedprice" not in s
        for s in schemas
    ), schemas


def _plan_nodes(df):
    """Every node of ``df``'s physical plan, reading AQE's initial plan
    (the strategy the hints chose) and not entering cached sub-plans."""
    todo, nodes = [df._jdf.queryExecution().executedPlan()], []
    while todo:
        p = todo.pop()
        if p.nodeName() == "AdaptiveSparkPlan":
            todo.append(p.inputPlan())
            continue
        nodes.append(p)
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return nodes


def _names(seq) -> list[str]:
    return [seq.apply(i).name() for i in range(seq.size())]


def _exchanged_columns(df) -> set[str]:
    """Names of the columns any Exchange of ``df``'s plan ships."""
    return {
        c
        for p in _plan_nodes(df)
        if "Exchange" in p.nodeName()
        for c in _names(p.output())
    }


def test_content_pruned_after_hashing(spark, monkeypatch):
    """The corpus rule: nothing downstream of sha2() may rescan content."""
    from parallel_louvain_method_spark.operators import graph
    from parallel_louvain_method_spark.sources.corpus import shared_content_edges

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("source"), F.col("text").alias("content")
    )
    rels = _captured(monkeypatch, graph, "capped_pairs", 0)
    # edges derive from the hash only; 'text' must not survive into the agg
    edges, _ = shared_content_edges(docs, node_col="source")
    # scan reads (source, text) but the post-hash plan projects text away
    # before the join: assert the join inputs don't carry it
    from parallel_louvain_method_spark.plans.explain import plan_text
    plan = plan_text(edges)
    assert "content#" not in plan.split("Exchange")[-1]
    # edges sit on the capped_pairs checkpoint, so the scan and the hash
    # are in the plan of the table it materializes: no shuffle there may
    # ship the file bodies
    assert len(rels) == 1 and "sha2" in plan_text(rels[0])
    assert not {"content", "text"} & _exchanged_columns(rels[0])


def test_small_dim_join_broadcasts(spark):
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    joined = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    assert broadcast_join_count(joined) >= 1


def test_builtin_expressions_stay_in_codegen(spark):
    from parallel_louvain_method_spark.operators.text import token_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = token_counts(docs)
    assert wholestage_codegen_spans(df) >= 1
    # no BatchEvalPython (row-at-a-time UDF) anywhere in the text operators
    plan = wholestage_codegen_spans.__globals__["plan_text"](df)
    assert "BatchEvalPython" not in plan


def test_fresh_checkpoint_stats_stay_bounded(spark):
    """Regression for the r3 sql-engine hang: ``localCheckpoint`` preserves
    originStats, and an iterated self-join SQUARES the carried sizeInBytes
    BigInt each round (digits double: measured 988 → 1976 → 3951 → 7901 by
    round 10 on Spark 4.1.2) until the driver lives inside Toom-Cook
    BigInteger multiplies in SizeInBytesOnlyStatsPlanVisitor.visitJoin.
    ``fresh_checkpoint`` must keep the digit count flat and bounded."""
    from parallel_louvain_method_spark.plans.lineage import (
        fresh_checkpoint,
        size_in_bytes_digits,
    )

    df = spark.range(200).select(
        F.col("id").alias("vtx"), F.col("id").alias("comm")
    )
    df = fresh_checkpoint(df)
    digits = []
    for _ in range(8):
        j = df.select(F.col("vtx").alias("comm"), F.col("comm").alias("jc"))
        nxt = (
            df.hint("shuffle_hash")
            .join(j.hint("shuffle_hash"), "comm", "left")
            .select("vtx", F.coalesce("jc", "comm").alias("comm"))
        )
        df = fresh_checkpoint(nxt)
        digits.append(size_in_bytes_digits(df))
    # the buggy pattern reaches ~250 digits by round 8; a stats-free leaf
    # stays at the constant default (19-20 digits for Long.MaxValue)
    assert max(digits) <= 40, digits
    assert df.count() == 200


def test_plain_local_checkpoint_compounds_stats(spark):
    """Documents WHY fresh_checkpoint exists: the plain localCheckpoint
    variant of the loop above really does compound stats multiplicatively
    (this is Spark behavior, not ours — if an upgrade fixes it, this test
    tells us the workaround can be retired)."""
    from parallel_louvain_method_spark.plans.lineage import size_in_bytes_digits

    df = spark.range(200).select(
        F.col("id").alias("vtx"), F.col("id").alias("comm")
    )
    df = df.localCheckpoint(eager=True)
    for _ in range(4):
        j = df.select(F.col("vtx").alias("comm"), F.col("comm").alias("jc"))
        df = (
            df.hint("shuffle_hash")
            .join(j.hint("shuffle_hash"), "comm", "left")
            .select("vtx", F.coalesce("jc", "comm").alias("comm"))
            .localCheckpoint(eager=True)
        )
    assert size_in_bytes_digits(df) > 40


def test_new_graph_ops_stay_jvm_side(spark, golden16_df):
    """A16-A20 (metrics / truss / walks) are pure DataFrame algebra: no
    row-at-a-time Python anywhere in their plans, and the 1-row vol(G)
    total rides the partition-quality plan as a broadcast."""
    from parallel_louvain_method_spark.operators.metrics import (
        degree_assortativity,
        partition_quality,
    )
    from parallel_louvain_method_spark.operators.truss import edge_support
    from parallel_louvain_method_spark.operators.walks import random_walks

    plan_text = wholestage_codegen_spans.__globals__["plan_text"]
    assign = golden16_df.select(
        F.col("src").alias("vtx"), (F.col("src") % 4).alias("community")
    ).distinct()
    from parallel_louvain_method_spark.operators.metrics import (
        closeness_centrality,
    )
    from parallel_louvain_method_spark.operators.spectral import (
        eigenvector_centrality,
        hits,
    )

    pq = partition_quality(golden16_df, assign)
    for df in (
        degree_assortativity(golden16_df),
        pq,
        edge_support(golden16_df),
        random_walks(golden16_df, walk_length=2),
        eigenvector_centrality(golden16_df, max_iter=2, tol=None),
        hits(golden16_df, max_iter=2, tol=None),
        closeness_centrality(golden16_df, 2, method="hll"),
    ):
        assert "BatchEvalPython" not in plan_text(df)
        assert "ArrowEvalPython" not in plan_text(df)
    # the 1-row vol(G) total rides as a broadcast (nested-loop cross
    # build, not a hash join, so check the plan text directly)
    assert "BroadcastNestedLoopJoin" in plan_text(pq)


def test_incremental_edges_plan_quality(spark, monkeypatch):
    """The incremental merge must never drag `content` past the hash and
    never fall into row-Python: postings carry (node, sha256) only."""
    from parallel_louvain_method_spark.operators import graph
    from parallel_louvain_method_spark.sources import corpus as corpus_mod
    from parallel_louvain_method_spark.sources.corpus import (
        incremental_shared_content_edges,
        shared_content_edges,
        shared_content_postings,
        synth_corpus,
    )
    from parallel_louvain_method_spark.plans.explain import plan_text

    corpus = synth_corpus(spark, n_repos=20)
    old = corpus.filter(F.pmod(F.xxhash64("repo", "commit"), F.lit(3)) != 0)
    batch = corpus.filter(F.pmod(F.xxhash64("repo", "commit"), F.lit(3)) == 0)
    postings = shared_content_postings(old)
    built = _captured(monkeypatch, graph, "capped_pairs", 0)
    merged = _captured(monkeypatch, corpus_mod, "capped_pairs", 0)
    edges, _, _ = incremental_shared_content_edges(
        postings,
        shared_content_edges(old)[0],
        batch,
    )
    text = plan_text(edges)
    assert "BatchEvalPython" not in text
    # content never appears as a join/aggregate attribute — only inside
    # the sha2 projection (localCheckpointed inputs hide upstream scans;
    # assert on the live plan's attributes)
    assert "sha2" not in text.split("Exchange")[-1]
    # the scans live in the tables capped_pairs materializes (the full
    # build's postings, then both touched snapshots in one table) and in
    # the postings state: the hash runs there and no shuffle ships the
    # file bodies
    assert len(built) == 1 and "sha2" in plan_text(built[0])
    assert len(merged) == 1
    for df in built + merged + [postings]:
        assert "BatchEvalPython" not in plan_text(df)
        assert "content" not in _exchanged_columns(df)


def test_bloom_semi_join_plan_quality(spark):
    """Probe side of the bloom prefilter must see only broadcast joins —
    zero hash-partitioning Exchange anywhere in the filter plan."""
    from parallel_louvain_method_spark.functions.bloom import bloom_semi_join
    from parallel_louvain_method_spark.plans.explain import (
        broadcast_join_count,
        plan_text,
        shuffle_exchange_count,
    )

    probe = spark.range(10_000).select(F.col("id").alias("key"))
    build = spark.range(100).select(F.col("id").alias("k"))
    kept = bloom_semi_join(probe, "key", build, "k", m_bits=1024, probes=3)
    text = plan_text(kept)
    assert shuffle_exchange_count(kept) == 0, text
    # formatted mode prints each operator in the tree AND the detail
    # section, so count detail headers: one per probe
    import re

    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", text)) == 3, text
    assert "BatchEvalPython" not in text


# ---- size-gated join choices (plans/strategy.py) --------------------------
# Each operator sizes its small join side with ``strategy.small_side``: at
# the default limits the side is broadcast; with the limit at 0 a
# stats-free leaf is shuffle-hashed, never sort-merged onto the big side.

def _joins(df, col: str) -> list[tuple[str, str]]:
    """``(operator, build side)`` of every join in ``df``'s physical plan
    whose right input carries column ``col``."""
    found = []
    for p in _plan_nodes(df):
        name = p.nodeName()
        if name.endswith("Join") and col in _names(p.right().output()):
            side = p.buildSide().toString() if "Hash" in name else ""
            found.append((name, side))
    return found


def _captured(monkeypatch, module, name: str, arg: int | None) -> list:
    """Wrap ``module.name`` so each call records its ``arg``-th positional
    argument (its return value when ``arg`` is None)."""
    seen, orig = [], getattr(module, name)

    def spy(*a, **kw):
        out = orig(*a, **kw)
        seen.append(out if arg is None else a[arg])
        return out

    monkeypatch.setattr(module, name, spy)
    return seen


def _assert_gated(joins, limit_zero: bool):
    assert joins, "gated join not found in the plan"
    if limit_zero:
        assert all(j == ("ShuffledHashJoin", "BuildRight") for j in joins), joins
    else:
        assert all(j == ("BroadcastHashJoin", "BuildRight") for j in joins), joins


@pytest.mark.parametrize("limit_zero", [False, True], ids=["default", "zero"])
def test_pagerank_iteration_join_strategy(
    spark, golden16_df, monkeypatch, limit_zero
):
    """The rank table joins onto the cached edge side by ``small_side``.
    The barrier engine is bypassed so the DataFrame loop runs; with the
    limit at 0 it runs past the limit."""
    from parallel_louvain_method_spark.operators import pagerank as pr_mod
    from parallel_louvain_method_spark.plans import strategy

    monkeypatch.setattr(pr_mod, "_pagerank_barrier", lambda *a, **k: None)
    if limit_zero:
        monkeypatch.setattr(strategy, "DRIVER_VERTICES", 0)
    rounds = _captured(monkeypatch, pr_mod, "fresh_checkpoint", 0)
    pr_mod.pagerank(golden16_df, max_iter=2, tol=None)
    # rounds[0] is the initial rank table, rounds[1] the first iteration
    _assert_gated(_joins(rounds[1], "rank"), limit_zero)


@pytest.mark.parametrize("limit_zero", [False, True], ids=["default", "zero"])
def test_label_propagation_label_join_strategy(
    spark, golden16_df, monkeypatch, limit_zero
):
    from parallel_louvain_method_spark.operators import labelprop
    from parallel_louvain_method_spark.plans import strategy

    if limit_zero:
        monkeypatch.setattr(strategy, "DRIVER_VERTICES", 0)
    rounds = _captured(monkeypatch, labelprop, "fresh_checkpoint", 0)
    labelprop.label_propagation(golden16_df, max_iter=1)
    _assert_gated(_joins(rounds[1], "label"), limit_zero)


@pytest.mark.parametrize("limit_zero", [False, True], ids=["default", "zero"])
def test_file_graph_name_map_join_strategy(spark, monkeypatch, limit_zero):
    """The ``dense_ids`` name→id map joins onto the corpus rows."""
    from parallel_louvain_method_spark.operators import graph
    from parallel_louvain_method_spark.plans import strategy
    from parallel_louvain_method_spark.sources import corpus

    if limit_zero:
        monkeypatch.setattr(strategy, "DRIVER_VERTICES", 0)
    keyed = _captured(monkeypatch, graph, "capped_pairs", 0)
    corpus.build_file_graph(
        corpus.synth_corpus(spark, n_repos=6, files_per_repo=4, commits_per_repo=2)
    )
    _assert_gated(_joins(keyed[0], "new_id"), limit_zero)


@pytest.mark.parametrize("limit_zero", [False, True], ids=["default", "zero"])
def test_louvain_coarse_edge_map_join_strategy(
    spark, golden16_df, monkeypatch, limit_zero
):
    """Both vtx→community map joins of ``_coarse_edges``.  Under
    ``strategy.BARRIER_VERTICES`` a local level coarsens in driver numpy,
    so the budget is set to 0 to reach the joins."""
    from parallel_louvain_method_spark.operators import louvain as lv
    from parallel_louvain_method_spark.plans import strategy

    monkeypatch.setattr(strategy, "BARRIER_VERTICES", 0)
    if limit_zero:
        monkeypatch.setattr(strategy, "BROADCAST_MAP_ROWS", 0)
    coarse = _captured(monkeypatch, lv, "_coarse_edges", None)
    lv.louvain(spark, golden16_df)
    joins = _joins(coarse[0], "c_src") + _joins(coarse[0], "c_dst")
    assert len(joins) == 2, joins
    _assert_gated(joins, limit_zero)


def test_small_side_rule(spark):
    """Broadcast at or under the limit; past it (or unsized) shuffle_hash
    on a leaf and no hint on a shuffle-backed side."""
    from parallel_louvain_method_spark.plans.strategy import small_side

    df = spark.range(4)

    def hints(d):
        return d._jdf.queryExecution().analyzed().toString()

    assert "strategy=broadcast" in hints(small_side(df, 4, 4))
    assert "shuffle_hash" in hints(small_side(df, 5, 4))
    assert "shuffle_hash" in hints(small_side(df, None, 4))
    assert small_side(df, 5, 4, leaf=False) is df


# ---- the bucket self-join (operators/graph.py capped_pairs) ---------------

def _self_join_strategies(df, keys: list[str]) -> list[str]:
    """Operator of every inner equi-join in ``df``'s plan keyed on exactly
    ``keys`` on both sides — the bucket self-join of a pair builder."""
    def key_names(seq):
        return [seq.apply(i).toString().split("#")[0] for i in range(seq.size())]

    return [
        p.nodeName()
        for p in _plan_nodes(df)
        if p.nodeName() in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        and p.joinType().toString() == "Inner"
        and key_names(p.leftKeys()) == keys == key_names(p.rightKeys())
    ]


def _file_graph(spark):
    from parallel_louvain_method_spark.sources.corpus import (
        build_file_graph,
        synth_corpus,
    )

    corpus = synth_corpus(spark, n_repos=6, files_per_repo=4, commits_per_repo=2)
    return build_file_graph(corpus)[0]


def _shared_content(spark):
    from parallel_louvain_method_spark.sources.corpus import (
        shared_content_edges,
        synth_corpus,
    )

    return shared_content_edges(synth_corpus(spark, n_repos=6))[0]


def _bipartite(spark):
    from parallel_louvain_method_spark.operators.graph import bipartite_projection

    rel = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (1, "y"), (2, "y")], "node long, k string"
    )
    return bipartite_projection(rel, "node", "k")[0]


def _minhash(spark):
    from parallel_louvain_method_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over lazy dog {i % 3}") for i in range(6)],
        "doc_id long, text string",
    )
    return minhash_lsh_pairs(docs, threshold=0.5)


def _knn_axis(spark):
    from parallel_louvain_method_spark.operators.similarity import knn_lsh

    emb = spark.createDataFrame(
        [(i, [float(i % 3) - 1.0, 1.0, float(i % 2) - 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    return knn_lsh(emb, k=2, n_planes=2, n_tables=2, dim=3, planes="axis")


def _contacts(spark):
    from parallel_louvain_method_spark.operators.temporal import contact_edges

    ev = spark.createDataFrame(
        [(u, "view", "2024-01-01 00:00:00") for u in range(4)],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    return contact_edges(ev)[0]


@pytest.mark.parametrize(
    "build,keys",
    [
        (_file_graph, ["bucket"]),
        (_shared_content, ["h"]),
        (_bipartite, ["k"]),
        (_minhash, ["band", "bucket"]),
        (_knn_axis, ["t", "bucket"]),
        (_contacts, ["key", "t"]),
    ],
    ids=[
        "build_file_graph",
        "shared_content_edges",
        "bipartite_projection",
        "minhash_lsh_pairs",
        "knn_lsh_axis",
        "contact_edges",
    ],
)
def test_bucket_self_join_is_shuffle_hash(spark, build, keys):
    """Every pair builder's bucket self-join is the ``capped_pairs`` one:
    a ShuffledHashJoin, never a SortMergeJoin."""
    joins = _self_join_strategies(build(spark), keys)
    assert joins == ["ShuffledHashJoin"], joins


def test_uncapped_self_join_left_to_planner(spark):
    """Without a cap no group is bounded, so ``capped_pairs`` forces no
    in-memory hash build: the join carries no ``shuffle_hash`` hint."""
    from parallel_louvain_method_spark.operators.graph import bipartite_projection

    rel = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (1, "y"), (2, "y")], "node long, k string"
    )
    edges = bipartite_projection(rel, "node", "k", max_right_degree=None)[0]
    joins = _self_join_strategies(edges, ["k"])
    assert len(joins) == 1 and "ShuffledHashJoin" not in joins, joins
    assert "shuffle_hash" not in edges._jdf.queryExecution().optimizedPlan().toString()
