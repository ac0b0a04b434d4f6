"""Source-code corpus ingest (SURVEY.md S6/P8/J5/J6, BASELINE.json input_hint).

Input table shape (Iceberg at 10^12-file scale; parquet in tests)::

    (repo: string, path: string, commit: string, lang: string, content: string)

Operators:
- ``with_sha256``      — per-row ``sha2(content, 256)`` (built-in, vectorized;
                         the per-row invariant the driver checks);
- ``shared_content_edges`` — repo pairs sharing content hashes;
- ``cocommit_edges``   — file pairs co-occurring in a commit (the
                         (repo, commit) group key);
- ``build_repo_graph`` / ``build_file_graph`` — the ints-early production
                         builders: node names dense-ranked once, then
                         dedup/cap/self-join/aggregation run entirely on
                         longs (strings cross the shuffle exactly once).

Every builder is ``operators/graph.py`` ``bipartite_projection`` over its
(node, bucket) relation, so the skew cap and the bucket self-join live in
``graph.capped_pairs``: top buckets (empty file, license boilerplate,
mega-commits) are O(k²) pair bombs, so groups larger than ``max_group``
are dropped and counted, not exploded.

Column pruning is load-bearing at 100 TB: every builder projects
``content`` away immediately after hashing, so the scan schema the optimizer
pushes to parquet/Iceberg never carries file bodies further than the hash
expression.

``synth_corpus`` generates the deterministic test/bench corpus (FIXTURES.md
F2): pure Spark expressions over ``spark.range`` — same input on every call,
no RNG state, no external data.  Repos are grouped into content pools of 10
(planted Louvain communities) with sparse cross-pool links.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from parallel_louvain_method_spark.operators.graph import (
    bipartite_projection,
    capped_pairs,
    dense_ids,
)
from parallel_louvain_method_spark.plans import strategy
from parallel_louvain_method_spark.plans.strategy import small_side

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]
_LANGS = ["py", "c", "cpp", "java", "rs"]


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """S6: load the corpus table.

    Tries the Iceberg source first (the production format per the north
    rule; needs the iceberg-spark runtime on the cluster classpath), falls
    back to parquet for local/test runs.  Either way only CORPUS_COLUMNS
    are selected, so Catalyst prunes everything else at the scan.
    """
    try:
        df = spark.read.format("iceberg").load(path)
    except Exception:
        df = spark.read.parquet(path)
    return df.select(*CORPUS_COLUMNS)


def synth_corpus(
    spark: SparkSession,
    n_repos: int = 100,
    files_per_repo: int = 20,
    commits_per_repo: int = 5,
    repos_per_pool: int = 10,
    contents_per_pool: int = 40,
    cross_rate: int = 17,
) -> DataFrame:
    """Deterministic synthetic corpus with planted community structure.

    One row per (repo, path, commit).  Content keys are drawn from a
    pool-local range (repos ``[p*repos_per_pool, (p+1)*repos_per_pool)``
    share pool ``p``'s contents — guaranteed shared-content edges inside a
    pool), except every ``cross_rate``-th (repo, file) uses a global key
    (sparse cross-pool links).  All derived arithmetically from the row id:
    rerunning yields byte-identical data at any scale.
    """
    rows = n_repos * files_per_repo * commits_per_repo
    df = spark.range(rows).select(
        (F.col("id") / (files_per_repo * commits_per_repo))
        .cast("long")
        .alias("repo_id"),
        (F.col("id") / commits_per_repo).cast("long").alias("gfile_id"),
        F.pmod(F.col("id"), F.lit(commits_per_repo)).alias("commit_id"),
    )
    df = df.withColumn(
        "file_id", F.pmod(F.col("gfile_id"), F.lit(files_per_repo))
    ).withColumn("pool", (F.col("repo_id") / repos_per_pool).cast("long"))
    lang = F.element_at(
        F.array(*[F.lit(l) for l in _LANGS]),
        (F.pmod(F.col("file_id"), F.lit(len(_LANGS))) + 1).cast("int"),
    )
    # pool-local content key, with deterministic sparse cross-pool leakage
    local_key = F.col("pool") * contents_per_pool + F.pmod(
        F.col("file_id") * 31 + F.col("commit_id") * 7, F.lit(contents_per_pool)
    )
    global_key = F.pmod(F.col("file_id") * 13 + F.col("repo_id"), F.lit(contents_per_pool))
    is_cross = F.pmod(F.col("repo_id") * 7 + F.col("file_id"), F.lit(cross_rate)) == 0
    content_key = F.when(is_cross, -(global_key + 1)).otherwise(local_key)
    return df.select(
        F.format_string("repo_%05d", F.col("repo_id")).alias("repo"),
        F.concat(
            F.lit("src/f"),
            F.format_string("%03d", F.col("file_id")),
            F.lit("."),
            lang,
        ).alias("path"),
        F.sha2(
            F.concat(
                F.format_string("repo_%05d", F.col("repo_id")),
                F.lit("@"),
                F.col("commit_id").cast("string"),
            ),
            256,
        ).substr(1, 40).alias("commit"),
        lang.alias("lang"),
        F.concat(F.lit("file-body-"), content_key.cast("string")).alias("content"),
    )


def with_sha256(corpus: DataFrame) -> DataFrame:
    """P8: per-row content hash — ``sha2`` runs JVM-side, no Python."""
    return corpus.withColumn("content_sha", F.sha2(F.col("content"), 256))


def shared_content_edges(
    corpus: DataFrame,
    node_col: str = "repo",
    max_group: int = 1000,
    content_col: str = "content",
) -> tuple[DataFrame, DataFrame]:
    """J5: edges ``[node_a, node_b, weight]`` between ``node_col`` values
    sharing ≥1 content sha256; ``weight`` = number of shared hashes.

    Returns ``(edges, dropped)`` where ``dropped[h, n_nodes]`` lists hashes
    whose distinct-node group exceeded ``max_group`` (the
    ``graph.capped_pairs`` skew cap).  Runs one eager job.
    """
    h = corpus.select(
        F.col(node_col).alias("node"),
        F.sha2(F.col(content_col), 256).alias("h"),
    )
    return _named_pairs(bipartite_projection(h, "node", "h", max_group), "n_nodes")


def cocommit_edges(
    corpus: DataFrame,
    max_group: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """J6: edges ``[node_a, node_b, weight]`` between files (repo-qualified
    paths) co-occurring in a commit; ``weight`` = number of commits where
    they co-occur.  ``dropped[ck, n_files]`` lists the commits over the
    cap — a mega-commit touching k files is a k²/2 pair bomb.  Runs one
    eager job.
    """
    fc = corpus.select(
        F.concat(F.col("repo"), F.lit("::"), F.col("path")).alias("file"),
        F.concat(F.col("repo"), F.lit("@"), F.col("commit")).alias("ck"),
    )
    return _named_pairs(bipartite_projection(fc, "file", "ck", max_group), "n_files")


def _named_pairs(
    projected: tuple[DataFrame, DataFrame], n_col: str
) -> tuple[DataFrame, DataFrame]:
    """The string builders' column names on a ``bipartite_projection``."""
    edges, dropped = projected
    return (
        edges.withColumnsRenamed({"src": "node_a", "dst": "node_b"}),
        dropped.withColumnRenamed("n_left", n_col),
    )


def densify(string_edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """String-keyed edges -> canonical long-id edge table + id map.

    Public API (the driver contract in ``__spark_entry__.py`` builds on
    it): the output ids are dense 0..n-1 by sorted name, so callers may
    pass ``louvain(..., n_vertices=<map row count>, assume_dense=True)``.
    """
    ids = (
        string_edges.select(F.col("node_a").alias("name"))
        .union(string_edges.select(F.col("node_b").alias("name")))
        .distinct()
    )
    mapping, n = dense_ids(ids, "name")
    limit = strategy.DRIVER_VERTICES
    edges = (
        string_edges.join(
            small_side(mapping, n, limit).withColumnRenamed("name", "node_a"), "node_a"
        )
        .withColumnRenamed("new_id", "src")
        .join(
            small_side(mapping, n, limit)
            .withColumnRenamed("name", "node_b")
            .withColumnRenamed("new_id", "dst"),
            "node_b",
        )
        .select("src", "dst", "weight")
    )
    return edges, mapping


def _build_int_graph(
    corpus: DataFrame, name: Column, bucket: Column, max_group: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The ints-early builder behind :func:`build_repo_graph` and
    :func:`build_file_graph`: node names are dense-ranked FIRST (one
    string shuffle), then dedup / cap / self-join / pair aggregation all
    run on longs — every shuffle column is 8 bytes, not a repo/path/commit
    string.  Runs the ``dense_ids`` jobs and one eager checkpoint."""
    names = corpus.select(name.alias("name")).distinct()
    mapping, n = dense_ids(names, "name")
    keyed = (
        corpus.select(name.alias("name"), bucket.alias("bucket"))
        # at broadcast size the corpus strings never cross a shuffle: the
        # one string exchange the ints-early design budgeted for is gone
        .join(small_side(mapping, n, strategy.DRIVER_VERTICES), "name")
        .select("bucket", F.col("new_id").alias("id"))
    )
    edges, dropped = bipartite_projection(keyed, "id", "bucket", max_group)
    return edges, mapping, dropped.withColumnRenamed("n_left", "n")


def build_repo_graph(
    corpus: DataFrame, max_group: int = 1000
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared-content repo graph: ``(edges[src,dst,weight], id_map, dropped)``.

    Output is identical to densify(shared_content_edges(...)) — dense ids
    are monotone in sorted names, so ``src < dst`` selects the same
    canonical pair direction — but the content hashes and node names
    never re-cross the wire.  The bucket key is ``xxhash64(content)``
    rather than the sha256 string: equality differs only on an xxhash64
    collision (P ≈ k²/2⁶⁵ — ~0.03 even at 10⁹ distinct contents; a
    deployment at 10¹²+ distinct contents should rank contents exactly
    instead).  ``dropped`` reports the capped buckets as (bucket, n).

    Contract change vs the old densify(string_edges) composition: the id
    map ranks EVERY distinct node name in the corpus — isolated nodes
    included — so ids are stable under ``max_group`` and the map is the
    corpus's node universe, not just the edge participants.  (On a corpus
    with no isolated nodes the two pipelines are row-identical; pinned by
    test_int_builders_match_string_pipeline.)
    """
    return _build_int_graph(
        corpus, F.col("repo"), F.xxhash64("content"), max_group
    )


def build_file_graph(
    corpus: DataFrame, max_group: int = 1000
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Co-commit file graph: ``(edges[src,dst,weight], id_map, dropped)``.

    Same ints-early design as :func:`build_repo_graph`: file names
    (``repo::path``) cross the shuffle once into the dense-id map, and the
    co-commit bucket is ``xxhash64(repo, commit)`` (collision note above).
    """
    return _build_int_graph(
        corpus,
        F.concat(F.col("repo"), F.lit("::"), F.col("path")),
        F.xxhash64("repo", "commit"),
        max_group,
    )


def shared_content_postings(
    corpus: DataFrame,
    node_col: str = "repo",
    content_col: str = "content",
) -> DataFrame:
    """The maintained state for incremental edge builds: distinct
    ``(node, h)`` postings, h = sha256(content).  This is the minimal
    sufficient statistic for :func:`shared_content_edges` — group sizes,
    caps, and pair weights are all functions of it."""
    return corpus.select(
        F.col(node_col).alias("node"),
        F.sha2(F.col(content_col), 256).alias("h"),
    ).distinct()


def incremental_pair_edges(
    old_postings: DataFrame,
    old_edges: DataFrame,
    new_postings: DataFrame,
    max_group: int = 1000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Merge new ``(node, h)`` postings into an existing co-occurrence
    edge table WITHOUT a full rebuild — the generic core under BOTH link
    families (shared-content: h = sha256(content); co-commit: h = the
    commit/bucket key).  ``weight`` = number of buckets shared by the
    pair, the semantics of :func:`shared_content_edges` /
    :func:`cocommit_edges`.

    Returns ``(edges, postings, dropped)`` where ``edges`` equals the
    full rebuild over the union of old and new postings exactly (cap
    transitions included: a bucket pushed over ``max_group`` by the batch
    has its previously-emitted pairs retracted), ``postings`` is the
    updated state to carry to the next batch, and ``dropped`` lists the
    touched buckets now over the cap.

    Scale shape: every join and aggregation is scoped to the TOUCHED
    buckets (buckets with at least one genuinely new posting), so a batch
    touching b buckets costs O(batch + postings-of-those-b-buckets)
    regardless of corpus size — the daily-ingest path for a 10^12-file
    corpus where full rebuilds are off the table.  The signed-contribution
    trick (new snapshot pairs at +1, old snapshot pairs at -1, summed into
    a weight delta) keeps cap-crossing retractions in the same
    aggregation as additions instead of a special case.  Runs two eager
    jobs: the new postings, then the ``graph.capped_pairs`` checkpoint of
    both touched snapshots.
    """
    new_post = (
        new_postings.select("node", "h")
        .distinct()
        .join(old_postings, ["node", "h"], "left_anti")
        .select("node", "h")  # unions below are positional — pin the order
        .localCheckpoint(eager=True)  # reused 3x: touched, union, state-out
    )
    touched = new_post.select("h").distinct()
    # both snapshots of the touched buckets in one table, each row tagged
    # with its contribution's sign: the old rows once before the batch
    # (-1) and once after (+1), the new rows after (+1); keyed on
    # (sign, h), the cap counts each snapshot on its own
    snaps = (
        old_postings.join(touched, "h", "left_semi")
        .select("node", "h", F.explode(F.array(F.lit(-1), F.lit(1))).alias("sign"))
        .union(new_post.select("node", "h", F.lit(1).alias("sign")))
    )
    joined, dropped = capped_pairs(snaps, ["sign", "h"], "node", max_group)
    delta = joined.groupBy(
        F.col("a.node").alias("node_a"), F.col("b.node").alias("node_b")
    ).agg(F.sum("sign").cast("double").alias("dw"))
    edges = (
        old_edges.join(delta, ["node_a", "node_b"], "full")
        .select(
            "node_a",
            "node_b",
            (
                F.coalesce(F.col("weight"), F.lit(0.0))
                + F.coalesce(F.col("dw"), F.lit(0.0))
            ).alias("weight"),
        )
        .filter(F.col("weight") > 0)
    )
    dropped = dropped.filter(F.col("sign") == 1).select(
        "h", F.col("n").alias("n_nodes")
    )
    return edges, old_postings.union(new_post), dropped


def incremental_shared_content_edges(
    old_postings: DataFrame,
    old_edges: DataFrame,
    new_corpus: DataFrame,
    node_col: str = "repo",
    max_group: int = 1000,
    content_col: str = "content",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared-content instantiation of :func:`incremental_pair_edges`:
    merge a batch of corpus ROWS (the postings are derived here via
    sha256) into an existing shared-content edge table; result equals
    ``shared_content_edges(old_corpus UNION new_corpus)`` exactly."""
    return incremental_pair_edges(
        old_postings,
        old_edges,
        shared_content_postings(new_corpus, node_col, content_col),
        max_group=max_group,
    )


def cocommit_postings(corpus: DataFrame) -> DataFrame:
    """Co-commit postings ``(node, h)`` — node = repo-qualified path,
    h = the commit bucket key — matching :func:`cocommit_edges` exactly;
    feed to :func:`incremental_pair_edges` to maintain the co-commit
    graph incrementally."""
    return corpus.select(
        F.concat(F.col("repo"), F.lit("::"), F.col("path")).alias("node"),
        F.concat(F.col("repo"), F.lit("@"), F.col("commit")).alias("h"),
    ).distinct()


def association_edge_weights(
    edges: DataFrame, postings: DataFrame
) -> DataFrame:
    """Normalize co-occurrence edge weights by the endpoints' bucket
    counts: raw shared-bucket counts over-rank prolific nodes (a repo in
    10k commits co-occurs with everything), so link-graph practice
    re-weights by set overlap before thresholding or community detection.

    Given ``edges(node_a, node_b, weight=|A∩B|)`` and the postings the
    builder maintains anyway, emits jaccard ``|A∩B|/|A∪B|``, dice
    ``2|A∩B|/(|A|+|B|)`` and cosine ``|A∩B|/sqrt(|A||B|)`` — one
    aggregation over postings plus two broadcast-friendly joins; the
    divisions are single IEEE ops on exact integer counts, so any engine
    reproduces them bit-for-bit."""
    counts = postings.groupBy("node").agg(F.count("*").alias("n"))
    n_buckets = postings.select("h").distinct().agg(
        F.count("*").cast("double").alias("n_buckets")
    )
    w = F.col("weight")
    return (
        edges.join(
            counts.select(
                F.col("node").alias("node_a"), F.col("n").alias("n_a")
            ),
            "node_a",
        )
        .join(
            counts.select(
                F.col("node").alias("node_b"), F.col("n").alias("n_b")
            ),
            "node_b",
        )
        .crossJoin(F.broadcast(n_buckets))
        .select(
            "node_a",
            "node_b",
            "weight",
            (w / (F.col("n_a") + F.col("n_b") - w)).alias("jaccard"),
            (F.lit(2.0) * w / (F.col("n_a") + F.col("n_b"))).alias("dice"),
            (w / F.sqrt(F.col("n_a") * F.col("n_b"))).alias("cosine"),
            (w / F.least("n_a", "n_b")).alias("overlap"),
            # pointwise mutual information of the two bucket events under
            # the empirical p = count / n_buckets; > 0 iff the pair
            # co-occurs more than independence predicts
            F.log2(
                w * F.col("n_buckets") / (F.col("n_a") * F.col("n_b"))
            ).alias("pmi"),
        )
    )
