"""Corpus ingest: sha256 invariant, edge builders, planted communities."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from parallel_louvain_method_spark.operators.louvain import louvain
from parallel_louvain_method_spark.sources.corpus import (
    build_repo_graph,
    cocommit_edges,
    shared_content_edges,
    synth_corpus,
    with_sha256,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(
        spark, n_repos=40, files_per_repo=8, commits_per_repo=3
    ).persist()


def test_corpus_shape_and_determinism(spark, corpus):
    assert corpus.columns == ["repo", "path", "commit", "lang", "content"]
    assert corpus.count() == 40 * 8 * 3
    again = synth_corpus(spark, n_repos=40, files_per_repo=8, commits_per_repo=3)
    assert corpus.exceptAll(again).count() == 0
    assert again.exceptAll(corpus).count() == 0


def test_sha256_per_row_invariant(spark, corpus):
    """North-rule invariant: sha2(content, 256) == hashlib.sha256."""
    sample = with_sha256(corpus).select("content", "content_sha").limit(50).collect()
    assert len(sample) > 0
    for r in sample:
        assert (
            hashlib.sha256(r["content"].encode()).hexdigest() == r["content_sha"]
        )


def test_shared_content_edges_oracle(spark, corpus):
    edges, dropped = shared_content_edges(corpus, "repo", max_group=1000)
    assert dropped.count() == 0
    # independent recomputation in SQL over collected rows
    corpus.createOrReplaceTempView("corpus_t")
    want = spark.sql(
        """
        WITH h AS (SELECT DISTINCT repo, sha2(content, 256) AS hh FROM corpus_t)
        SELECT a.repo AS node_a, b.repo AS node_b,
               CAST(COUNT(*) AS DOUBLE) AS weight
        FROM h a JOIN h b ON a.hh = b.hh AND a.repo < b.repo
        GROUP BY 1, 2
        """
    )
    assert edges.exceptAll(want).count() == 0
    assert want.exceptAll(edges).count() == 0
    # planted structure: pool-local sharing dominates
    intra = edges.filter(
        F.substring("node_a", 6, 4).cast("int") / 10
        == F.substring("node_b", 6, 4).cast("int") / 10
    )
    assert intra.count() > 0


def test_cocommit_edges_cap(spark, corpus):
    # files_per_repo=8 -> every commit groups 8 files; cap at 5 drops all
    edges, dropped = cocommit_edges(corpus, max_group=5)
    assert edges.count() == 0
    assert dropped.count() == 40 * 3
    edges2, dropped2 = cocommit_edges(corpus, max_group=100)
    assert dropped2.count() == 0
    # each repo contributes C(8,2)=28 distinct file pairs
    assert edges2.count() == 40 * 28
    # weight = commits where the pair co-occurs = 3
    assert edges2.agg(F.min("weight"), F.max("weight")).first() == (3.0, 3.0)


def test_repo_graph_louvain_recovers_pools(spark, corpus):
    edges, mapping, dropped = build_repo_graph(corpus)
    assert dropped.count() == 0
    res = louvain(spark, edges)
    # 40 repos in 4 pools of 10 with sparse cross links -> Louvain should
    # recover ~4 communities with high modularity
    assert res.modularity > 0.5
    got = res.n_communities
    assert 3 <= got <= 6


def test_int_builders_match_string_pipeline(spark, corpus):
    """build_file_graph / build_repo_graph (ints-early) produce exactly the
    densify(string_edges) result — dense ids are monotone in sorted names,
    so the int pipeline's src<dst picks the same canonical direction."""
    from parallel_louvain_method_spark.sources.corpus import (
        build_file_graph,
        build_repo_graph,
        densify,
        shared_content_edges,
    )

    for builder, string_fn in (
        (build_file_graph, cocommit_edges),
        (build_repo_graph, lambda c: shared_content_edges(c, "repo")),
    ):
        e_int, mapping, _ = builder(corpus)
        str_edges, _ = string_fn(corpus)
        e_str, mapping_str = densify(str_edges)
        assert sorted(map(tuple, e_int.collect())) == sorted(
            map(tuple, e_str.collect())
        )
        assert sorted(map(tuple, mapping.collect())) == sorted(
            map(tuple, mapping_str.collect())
        )


def test_incremental_shared_content_edges(spark):
    """Incremental merge == full rebuild, including a cap transition: the
    batch pushes hash-group 'boiler' from 3 nodes (3 pairs) over the
    max_group=3 cap, so its previously-emitted pairs must be RETRACTED."""
    from parallel_louvain_method_spark.sources.corpus import (
        incremental_shared_content_edges,
        shared_content_edges,
        shared_content_postings,
    )

    def corpus_df(rows):
        return spark.createDataFrame(
            [(n, "p", "c0", "py", body) for n, body in rows],
            "repo string, path string, commit string, lang string, "
            "content string",
        )

    old = corpus_df(
        [("r1", "boiler"), ("r2", "boiler"), ("r3", "boiler"),
         ("r1", "x"), ("r2", "x"), ("r5", "z")]
    )
    batch = corpus_df(
        [("r4", "boiler"),          # cap crossing: 4 > max_group=3
         ("r3", "x"),               # weight increment path (new pairs on x)
         ("r5", "w"), ("r6", "w"),  # brand-new hash, brand-new node
         ("r1", "x")]               # pure duplicate posting — must be a no-op
    )

    old_edges, _ = shared_content_edges(old, max_group=3)
    inc_edges, postings, dropped = incremental_shared_content_edges(
        shared_content_postings(old),
        old_edges,
        batch,
        max_group=3,
    )
    full_edges, _ = shared_content_edges(old.union(batch), max_group=3)
    assert sorted(map(tuple, inc_edges.collect())) == sorted(
        map(tuple, full_edges.collect())
    )
    # the capped hash is observable, and the boiler pairs are gone
    assert dropped.count() == 1 and dropped.first().n_nodes == 4
    kept = {(r.node_a, r.node_b) for r in inc_edges.collect()}
    assert ("r1", "r2") in kept  # via x
    assert ("r5", "r6") in kept  # via w
    # state carries forward: a second batch over the updated postings
    # still equals its full rebuild
    batch2 = corpus_df([("r6", "z"), ("r7", "z")])
    inc2, _, _ = incremental_shared_content_edges(
        postings, inc_edges, batch2, max_group=3
    )
    full2, _ = shared_content_edges(
        old.union(batch).union(batch2), max_group=3
    )
    assert sorted(map(tuple, inc2.collect())) == sorted(
        map(tuple, full2.collect())
    )


def test_incremental_matches_full_rebuild_randomized(spark):
    """Property: for ANY corpus and ANY batch split, chained incremental
    merges equal the full rebuild — seeded random draws with small caps so
    cap transitions fire in both directions."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n_nodes, n_contents = 8, 5
        rows = [
            (
                f"r{rng.randrange(n_nodes)}",
                f"p{rng.randrange(3)}",
                f"c{rng.randrange(3)}",
                "py",
                f"body-{rng.randrange(n_contents)}",
            )
            for _ in range(40)
        ]
        cut1, cut2 = sorted(rng.sample(range(1, 39), 2))
        parts = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
        schema = (
            "repo string, path string, commit string, lang string, "
            "content string"
        )
        from parallel_louvain_method_spark.sources.corpus import (
            incremental_shared_content_edges,
            shared_content_edges,
            shared_content_postings,
        )

        cap = rng.choice([2, 3])
        first = spark.createDataFrame(parts[0], schema)
        edges, _ = shared_content_edges(first, max_group=cap)
        postings = shared_content_postings(first)
        for part in parts[1:]:
            edges, postings, _ = incremental_shared_content_edges(
                postings,
                edges,
                spark.createDataFrame(part, schema),
                max_group=cap,
            )
        full = spark.createDataFrame(rows, schema)
        want = sorted(
            map(tuple, shared_content_edges(full, max_group=cap)[0].collect())
        )
        got = sorted(map(tuple, edges.collect()))
        assert got == want, (seed, cap, got, want)


def test_incremental_cocommit_edges(spark):
    """The generic incremental core maintains the CO-COMMIT graph too:
    chained merges of cocommit postings == cocommit_edges full rebuild,
    including a mega-commit cap transition."""
    from parallel_louvain_method_spark.sources.corpus import (
        cocommit_edges,
        cocommit_postings,
        incremental_pair_edges,
    )

    schema = (
        "repo string, path string, commit string, lang string, "
        "content string"
    )

    def corpus_df(rows):
        return spark.createDataFrame(
            [(r, p, c, "py", "b") for r, p, c in rows], schema
        )

    old = corpus_df(
        [("r", "a", "c1"), ("r", "b", "c1"), ("r", "c", "c1"),
         ("r", "a", "c2"), ("r", "b", "c2")]
    )
    batch = corpus_df(
        [("r", "d", "c1"),   # pushes commit c1 from 3 to 4 files: capped
         ("r", "c", "c2"),   # grows c2 pairs
         ("r", "a", "c3"), ("r", "e", "c3")]  # new commit
    )
    cap = 3
    old_edges, _ = cocommit_edges(old, max_group=cap)
    inc, postings, dropped = incremental_pair_edges(
        cocommit_postings(old), old_edges, cocommit_postings(batch),
        max_group=cap,
    )
    full, _ = cocommit_edges(old.union(batch), max_group=cap)
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert dropped.count() == 1  # c1 now over cap, observable
    # second batch continues from the returned state
    batch2 = corpus_df([("r", "e", "c2")])
    inc2, _, _ = incremental_pair_edges(
        postings, inc, cocommit_postings(batch2), max_group=cap
    )
    full2, _ = cocommit_edges(
        old.union(batch).union(batch2), max_group=cap
    )
    assert sorted(map(tuple, inc2.collect())) == sorted(
        map(tuple, full2.collect())
    )
