"""Similarity search over an embedding column (``array<float>``).

Three paths:
- ``knn_brute_force`` — exact cosine top-k per query.  The dot product is a
  JVM ``aggregate(zip_with(...))`` expression; ranking is a window argmax.
  O(|Q|·|N|) — the correctness baseline and fine when one side broadcasts;
- ``knn_lsh`` — random-hyperplane LSH: vectors sharing a signature
  prefix-bucket are candidates; exact cosine re-ranks within buckets.
  Hyperplanes are DETERMINISTIC (seeded numpy), materialized once on the
  driver and shipped as literals inside a vectorized pandas UDF (one
  matmul per Arrow batch — no per-row Python);
- ``ivf_knn`` — inverted-file ANN: a spherical-k-means coarse quantizer
  (deterministic init, fixed Lloyd rounds) partitions vectors into
  inverted lists; queries probe their ``n_probe`` nearest lists and exact
  cosine re-ranks only those members.

At 100 TB scale the LSH and IVF paths are the viable ones: bucket/list
equi-joins instead of a cross join — LSH needs no training pass and its
recall is tunable per-query family (tables × planes); IVF concentrates
candidates by data geometry (tighter candidate sets on clustered
embeddings) at the cost of the k-means build.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from parallel_louvain_method_spark.operators.graph import capped_pairs


def _normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x / norm).alias("v"),
    )


def _cosine(a: str, b: str):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def knn_brute_force(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors: ``[query_id, neighbor_id, cosine, rank]``.

    ``queries=None`` runs all-pairs kNN over ``embeddings`` itself
    (excluding self-matches).  Ties break on lowest neighbor id
    (deterministic).
    """
    base = _normalized(embeddings, id_col, vec_col)
    q = base if queries is None else _normalized(queries, id_col, vec_col)
    scored = (
        q.withColumnsRenamed({"id": "query_id", "v": "qv"})
        .join(base.withColumnsRenamed({"id": "neighbor_id", "v": "nv"}),
              F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _signature_udf(dim: int, n_planes: int, seed: int):
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes)).astype(np.float32)

    @pandas_udf("long")
    def sig(col: pd.Series) -> pd.Series:
        mat = np.stack(col.to_numpy())  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, n_planes)
        out = np.zeros(len(col), dtype=np.int64)
        for j in range(n_planes):
            out |= bits[:, j].astype(np.int64) << j
        return pd.Series(out)

    return sig


def _axis_bucket(vec_col: str, dim: int, n_planes: int, table: int):
    """Axis-aligned hyperplane signature: bit ``j`` of table ``t`` is the
    sign of coordinate ``(t*n_planes + j) mod dim`` — a derandomized LSH
    family that is PURE codegen (no Python at all) and exactly expressible
    in ANSI SQL, which is what gives ``knn_lsh`` a DuckDB oracle twin.
    Weaker than random hyperplanes on adversarial data (axes may correlate),
    equivalent machinery otherwise: same bucket-join, cap and re-rank."""
    bits = [
        F.when(
            F.element_at(F.col(vec_col), ((table * n_planes + j) % dim) + 1)
            > 0,
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        for j in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def knn_lsh(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int = 10_000,
    planes: str = "random",
) -> DataFrame:
    """Approximate all-pairs top-k: ``[query_id, neighbor_id, cosine, rank]``.

    ``n_tables`` independent hyperplane sets; vectors sharing a bucket in
    ANY table become candidates (union + distinct), then exact cosine ranks
    them.  Recall grows with ``n_tables``; cost is the bucket-join fanout
    instead of |N|².

    ``dim`` is the embedding dimensionality; pass it when known (at scale,
    reading one row just to learn it is a wasted job) — ``None`` infers it
    from the first row.  Buckets holding more than ``max_bucket`` vectors
    (hub regions, zero vectors) are dropped from THAT table's candidate
    generation — k vectors in one bucket is a k²/2 pair bomb; other tables
    usually still cover those vectors.  Runs two eager jobs (the
    normalized table and the ``graph.capped_pairs`` checkpoint of all
    tables' buckets) plus the ``dim`` probe when ``dim`` is None.

    ``planes``: ``"random"`` (default) — seeded random hyperplanes via a
    vectorized pandas UDF; ``"axis"`` — sign-of-coordinate planes, pure
    codegen AND SQL-expressible (the oracle-checkable variant; bit ``j`` of
    table ``t`` reads coordinate ``(t*n_planes + j) mod dim`` of the RAW
    vector, so the DuckDB twin needs no normalization).
    """
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    raw = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("raw_v"))
    # localCheckpoint, not persist — the normalized table feeds bucketing
    # and the two score joins, and must release with the result instead of
    # living for the session (see operators/dedup.py minhash_lsh_pairs)
    base = _normalized(embeddings, id_col, vec_col).localCheckpoint(eager=True)
    tables = []
    for t in range(n_tables):
        if planes == "axis":
            # sign(raw) == sign(normalized) for any norm > 0, so bucketing
            # on the raw column is equivalent and skips the normalize
            bucket = raw.select(
                "id", _axis_bucket("raw_v", dim, n_planes, t).alias("bucket")
            )
        else:
            sig = _signature_udf(dim, n_planes, seed + t)
            bucket = base.select("id", sig("v").alias("bucket"))
        tables.append(bucket.select(F.lit(t).alias("t"), "id", "bucket"))
    # every table's buckets in one graph.capped_pairs self-join keyed on
    # (table, bucket): the skew cap drops oversized buckets per table
    joined, _ = capped_pairs(
        functools.reduce(DataFrame.union, tables), ["t", "bucket"], "id", max_bucket
    )
    cands = joined.select(
        F.inline(
            F.array(
                F.struct(
                    F.col("a.id").alias("query_id"), F.col("b.id").alias("neighbor_id")
                ),
                F.struct(
                    F.col("b.id").alias("query_id"), F.col("a.id").alias("neighbor_id")
                ),
            )
        )
    ).distinct()
    scored = (
        cands.join(base.withColumnsRenamed({"id": "query_id", "v": "qv"}), "query_id")
        .join(base.withColumnsRenamed({"id": "neighbor_id", "v": "nv"}), "neighbor_id")
        .select("query_id", "neighbor_id", _cosine("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def _round_normalized(vec_col, ndigits: int = 9):
    """Normalize an array<double> column and round each component.

    The rounding is SEMANTIC, not cosmetic: centroid means are computed by
    a shuffle aggregation whose float summation order is nondeterministic
    (and differs from the DuckDB oracle's), so raw means carry last-ulp
    noise that could flip an argmax between engines.  Snapping to 9 dp
    makes the centroid table reproducible to the digit on both sides."""
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(vec_col, lambda x: F.round(x / norm, ndigits))


def _ivf_assign(base: DataFrame, cents: DataFrame, method: str) -> DataFrame:
    """``[id, cid]`` — nearest centroid per vector (max cosine, ties to the
    lowest centroid id).

    ``method="expr"``: crossJoin(broadcast(cents)) + codegen dot products —
    SQL-expressible (the DuckDB-oracle path) but O(n·c) rows, sane for
    c up to a few hundred.  ``method="matmul"``: one vectorized pandas-UDF
    matmul per Arrow batch against the broadcast centroid matrix — the
    scale path for large centroid counts (no per-row Python, no row
    blowup)."""
    if method == "expr":
        scored = base.crossJoin(F.broadcast(cents)).select(
            "id", "cid", _cosine("v", "cv").alias("cos")
        )
        w = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("cid"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "cid")
        )
    rows = cents.orderBy("cid").collect()  # c rows — tiny by contract
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    mat = np.array([r["cv"] for r in rows], dtype=np.float64).T  # (dim, c)

    @pandas_udf("long")
    def nearest(col: pd.Series) -> pd.Series:
        m = np.stack(col.to_numpy())  # (batch, dim), already normalized
        scores = m @ mat  # (batch, c)
        # ties to the lowest cid: argmax returns the FIRST max and mat's
        # columns are cid-ascending
        return pd.Series(cids[np.argmax(scores, axis=1)])

    return base.select("id", nearest("v").alias("cid"))


def ivf_knn(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    assign_method: str = "auto",
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: ``[query_id, neighbor_id,
    cosine, rank]`` — the coarse-quantizer ANN family next to ``knn_lsh``.

    Spherical k-means with DETERMINISTIC init (the ``n_centroids`` lowest
    ids' vectors) and a FIXED number of Lloyd rounds (``iters``) builds the
    coarse quantizer; every vector lands in exactly one inverted list
    (its nearest centroid).  A query probes its ``n_probe`` nearest
    centroids and exact cosine re-ranks only those lists' members —
    candidate cost |probed lists| instead of |N|².

    Scale shape: the centroid table is tiny and broadcast; assignment is
    one map-side pass (vectorized matmul UDF past ~64 centroids, codegen
    expressions below — ``assign_method="auto"``); the Lloyd update is a
    posexplode + partial-agg mean (c·dim output rows); the probe join is
    an equi-join on the centroid id.  Fixed ``iters`` + deterministic
    init + 9-dp-snapped centroids keep the whole pipeline reproducible —
    and SQL-expressible, so the gate runs a DuckDB twin with the
    iterations unrolled (same trick as the fixed-k PageRank oracle).

    Empty clusters are dropped (their centroid attracts nobody — with the
    lowest-id init every centroid starts with at least its seed vector,
    and a later-emptied cluster simply stops being probed on both the
    Spark and oracle sides).
    """
    method = assign_method
    if method == "auto":
        method = "matmul" if n_centroids > 64 else "expr"
    base = _normalized(embeddings, id_col, vec_col).localCheckpoint(eager=True)
    cents = base.orderBy("id").limit(n_centroids).select(
        F.col("id").alias("cid"), _round_normalized("v").alias("cv")
    )
    for _ in range(iters):
        assign = _ivf_assign(base, cents, method)
        members = assign.join(base, "id").select(
            "cid", F.posexplode("v").alias("pos", "val")
        )
        mean = members.groupBy("cid", "pos").agg(F.avg("val").alias("m"))
        cents = (
            mean.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("mv")
            )
            .select("cid", _round_normalized("mv").alias("cv"))
            # tiny table, but it seeds every downstream join of the next
            # round — checkpoint so the unrolled-iteration plan (and its
            # stats) can't compound (plans/lineage.py)
            .localCheckpoint(eager=True)
        )
    assign = _ivf_assign(base, cents, method)
    if method == "matmul":
        # same one-matmul-per-batch shape as assignment, returning the
        # n_probe best centroid ids per query (no n·c row blowup)
        rows = cents.orderBy("cid").collect()
        cids = np.array([r["cid"] for r in rows], dtype=np.int64)
        mat = np.array([r["cv"] for r in rows], dtype=np.float64).T
        npb = min(n_probe, len(rows))

        @pandas_udf("array<long>")
        def top_cids(col: pd.Series) -> pd.Series:
            m = np.stack(col.to_numpy())
            scores = m @ mat  # (batch, c), columns cid-ascending
            # stable sort on -score keeps ties at the lowest cid
            order = np.argsort(-scores, axis=1, kind="stable")[:, :npb]
            return pd.Series(list(cids[order]))

        probes = base.select(
            F.col("id").alias("query_id"),
            F.explode(top_cids("v")).alias("cid"),
        )
    else:
        scored_probes = base.crossJoin(F.broadcast(cents)).select(
            F.col("id").alias("query_id"), "cid", _cosine("v", "cv").alias("pcos")
        )
        wp = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cid"))
        probes = (
            scored_probes.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= n_probe)
            .select("query_id", "cid")
        )
    cand = probes.join(
        assign.withColumnsRenamed({"id": "neighbor_id"}), "cid"
    ).filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id"
    )
    scored = (
        cand.join(base.withColumnsRenamed({"id": "query_id", "v": "qv"}), "query_id")
        .join(base.withColumnsRenamed({"id": "neighbor_id", "v": "nv"}), "neighbor_id")
        .select("query_id", "neighbor_id", _cosine("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
