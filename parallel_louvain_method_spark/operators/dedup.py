"""Document deduplication for large-scale training-data pipelines.

Five dedup families over a ``(doc_id: long, text: string)``-shaped table,
all designed so the heavy lifting stays JVM-side:

- exact          — sha256 groupBy (one shuffle, map-side partial);
- minhash LSH    — shingle → 64 permuted min-hashes → banded buckets →
                   candidate pairs; one explode + one groupBy with 64
                   min-aggregations (all built-in expressions), then an
                   equi-join on band keys.  No Python in the pipeline;
- simhash        — 64-bit signed-bit-sum signature, near-dup via banded
                   16-bit chunks + popcount(xor) Hamming verify;
- n-gram Jaccard — EXACT pairwise Jaccard over word n-grams via a
                   self-join on shared n-grams (SQL-expressible → DuckDB
                   oracle-able); frequency cap on ubiquitous n-grams;
- embedding cosine — near-duplicate pairs above a cosine threshold, exact
                   O(n²) baseline — the scale path lives in
                   operators/similarity.py (LSH buckets).

Every bucketed candidate generator (minhash bands, simhash chunks) is a
``graph.capped_pairs`` self-join: it caps bucket size (``max_bucket``) and
reports dropped buckets — one degenerate bucket is a k²/2 pair bomb at
corpus scale.

Determinism: permutation constants derive from fixed literals, not RNG
state; every argmax/keeper choice ties-breaks on the lowest doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from parallel_louvain_method_spark.operators.graph import capped_pairs

# Mersenne prime 2^31-1: universal-hash modulus small enough that
# a*h + b stays far below 2^63 (ANSI mode makes long overflow an ERROR,
# not a wrap)
_MERSENNE = (1 << 31) - 1
_U64 = (1 << 64) - 1


def _splitmix64(i: int) -> int:
    """SplitMix64 finalizer over a fixed counter stream — near-independent
    64-bit constants per index (public-domain mixing constants).  Used to
    derive the MinHash permutation coefficients: tiny correlated multipliers
    (1, 3, 5, ...) form a weak universal family that biases est_jaccard
    across components."""
    z = (i * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) & _U64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _U64
    return z ^ (z >> 31)


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", member_cap: int = 1000
) -> DataFrame:
    """Groups of byte-identical documents: ``[content_sha, doc_ids, n]``.

    ``n`` is the EXACT group size; ``doc_ids`` lists at most ``member_cap``
    lowest ids.  An uncapped ``collect_list`` puts a whole degenerate group
    (empty files, boilerplate — millions of docs at corpus scale) into ONE
    aggregation buffer / output row; ranking before collecting keeps the
    buffer bounded while the count stays exact.  The window and the groupBy
    share the key, so this is still a single shuffle.
    """
    from pyspark.sql import Window

    hashed = docs.select(
        "doc_id", F.sha2(F.col(text_col), 256).alias("content_sha")
    )
    rn = F.row_number().over(
        Window.partitionBy("content_sha").orderBy("doc_id")
    )
    return (
        hashed.withColumn("_rn", rn)
        .groupBy("content_sha")
        .agg(
            # collect_list skips nulls -> only the first member_cap ids ever
            # enter the buffer
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= member_cap, F.col("doc_id"))
                )
            ).alias("doc_ids"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") > 1)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest doc_id per identical text (deterministic keeper)."""
    keeper = (
        docs.select("doc_id", F.sha2(F.col(text_col), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return docs.join(keeper.select("doc_id"), "doc_id")


def _word_ngrams(text_col: str, n: int) -> Column:
    """Distinct word n-grams as an array column (built-ins only).

    Docs with fewer than ``n`` words yield an EMPTY array (they have no
    n-grams) — matching exact n-gram Jaccard and the DuckDB oracle, which
    emit nothing for short docs; such docs simply drop out of the gram
    pipeline (no signature, no pairs)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if n == 1:
        return F.array_distinct(words)
    # slide a window: transform over start indices, join n words with ' '
    return F.array_distinct(
        F.when(F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ).otherwise(F.array().cast("array<string>"))
    )


def minhash_hashed_shingles(
    docs: DataFrame, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """``[doc_id, h]`` — the hashed-shingle intermediate the MinHash
    pipeline builds on: ``h = xxhash64(shingle) mod M`` per distinct word
    n-gram.  Public because it is the ORACLE SEAM: ``xxhash64`` has no
    DuckDB twin, so the correctness gate materializes THIS table and
    re-derives signatures → bands → verified pairs in pure SQL over it
    (__spark_entry__._minhash_oracle_sql); everything downstream of the
    hash is universal-hash algebra both engines express identically."""
    return docs.select(
        "doc_id", F.explode(_word_ngrams(text_col, shingle_n)).alias("sh")
    ).select("doc_id", F.pmod(F.xxhash64("sh"), F.lit(_MERSENNE)).alias("h"))


def minhash_permutation_constants(n_hashes: int = 64) -> list[tuple[int, int]]:
    """The fixed (a_i, b_i) universal-hash coefficients, exposed so the
    DuckDB oracle embeds the SAME constants as the Spark pipeline."""
    return [
        (
            _splitmix64(2 * i) % (_MERSENNE - 1) + 1,
            _splitmix64(2 * i + 1) % _MERSENNE,
        )
        for i in range(n_hashes)
    ]


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """``[doc_id, sig: array<long>]`` — per-doc MinHash signature.

    One explode + ONE hash aggregation computing all permutations:
    ``min((a_i * h + b_i) mod M)`` per doc, where ``h = xxhash64(shingle)``
    and (a_i, b_i) are fixed odd constants — 64 JVM-side min() columns, no
    Python row code.
    """
    shingles = minhash_hashed_shingles(docs, text_col, shingle_n)
    aggs = []
    # near-independent (a, b) per permutation from a SplitMix64 stream;
    # a in [1, M-1] (nonzero), b in [0, M-1].  a*h + b < 2^62: safe
    # under ANSI overflow checking.
    for i, (a, b) in enumerate(minhash_permutation_constants(n_hashes)):
        aggs.append(
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(
                f"m{i}"
            )
        )
    sigs = shingles.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id", F.array(*[f"m{i}" for i in range(n_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    return_dropped: bool = False,
) -> DataFrame:
    """Near-duplicate candidate pairs ``[doc_a, doc_b, est_jaccard]``.

    Banding: ``bands`` buckets of ``n_hashes/bands`` rows; docs sharing any
    full band collide.  Candidates are verified by the unbiased estimator
    ``#equal components / n_hashes`` and filtered at ``threshold``.

    Band buckets holding more than ``max_bucket`` docs (degenerate content:
    empty docs, boilerplate) are dropped from candidate generation — k docs
    in one bucket is a k²/2 pair bomb (``graph.capped_pairs``).
    ``return_dropped=True`` returns ``(pairs, dropped)`` with the oversized
    ``(band, bucket, n_members)`` rows for observability.  Runs two eager
    jobs: the signature checkpoint and the banded-table checkpoint.
    """
    rows_per_band = n_hashes // bands
    # localCheckpoint, not persist: sigs feeds BOTH banding and the verify
    # join, but a plain persist() pins it in executor memory for the whole
    # session (r3 ADVICE: long sessions accumulate dead cached tables) —
    # the checkpointed RDD instead releases with the returned DataFrame's
    # lifetime (GC + ContextCleaner), the dense_ids pattern (graph.py)
    sigs = minhash_signatures(docs, text_col, n_hashes, shingle_n).localCheckpoint(
        eager=True
    )
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    joined, dropped = capped_pairs(banded, ["band", "bucket"], "doc_id", max_bucket)
    cand = joined.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()
    verified = (
        cand.join(sigs.withColumnsRenamed({"doc_id": "doc_a", "sig": "sig_a"}), "doc_a")
        .join(sigs.withColumnsRenamed({"doc_id": "doc_b", "sig": "sig_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                        lambda x: x,
                    )
                )
                / F.lit(float(len(range(n_hashes))))
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    if return_dropped:
        return verified, dropped.withColumnRenamed("n", "n_members")
    return verified


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_ngram_freq: int = 10000,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs ``[doc_a, doc_b, jaccard]``.

    Self-join on shared n-grams; ubiquitous n-grams (appearing in more than
    ``max_ngram_freq`` docs) are dropped from pair GENERATION only — sizes
    keep them, so the reported Jaccard stays exact for surviving pairs
    whose intersection isn't entirely ubiquitous.  SQL-expressible: the
    DuckDB oracle in __spark_entry__ runs the same algebra.
    """
    # localCheckpoint, not persist — released with the result's lifetime
    # instead of pinned for the session (see minhash_lsh_pairs).  Not a
    # graph.capped_pairs caller: grams also feeds the per-doc sizes, and
    # the helper's own checkpoint would materialize it a second time
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams(text_col, n)).alias("g")
    ).localCheckpoint(eager=True)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    freq = grams.groupBy("g").agg(F.count("*").alias("df"))
    rare = grams.join(
        F.broadcast(freq.filter(F.col("df") > max_ngram_freq).select("g")),
        "g",
        "left_anti",
    )
    inter = (
        rare.alias("a")
        .join(rare.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def simhash_hashed_tokens(
    docs: DataFrame, text_col: str = "text", shingle_n: int = 2
) -> DataFrame:
    """``[doc_id, h]`` — raw ``xxhash64`` per distinct word n-gram, the
    SimHash pipeline's hash intermediate.  Public for the same reason as
    ``minhash_hashed_shingles``: the DuckDB oracle materializes this table
    and re-derives bit-sums → chunks → Hamming verification in SQL
    (__spark_entry__._simhash_oracle_sql)."""
    return docs.select(
        "doc_id", F.explode(_word_ngrams(text_col, shingle_n)).alias("t")
    ).select("doc_id", F.xxhash64("t").alias("h"))


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", shingle_n: int = 2
) -> DataFrame:
    """``[doc_id, simhash: long]`` — 64-bit SimHash over word n-grams.

    Bit b of the signature is the sign of Σ_tokens (±1), where the token's
    hash decides the sign per bit.  64 conditional-sum aggregations, all
    JVM-side.
    """
    toks = simhash_hashed_tokens(docs, text_col, shingle_n)
    aggs = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(64):
        # shiftleft on a long handles bit 63 (sign bit) without overflow
        bit = F.shiftleft(F.lit(1).cast("long"), b)
        sig = sig.bitwiseOR(F.when(F.col(f"b{b}") > 0, bit).otherwise(F.lit(0).cast("long")))
    return sums.select("doc_id", sig.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 2,
    max_bucket: int = 1000,
    return_dropped: bool = False,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits.  Candidate generation uses
    ``max_hamming + 1`` bit-chunks — by pigeonhole, any pair within the
    Hamming budget shares at least one full chunk — then exact
    popcount(xor) verifies.  More chunks = more candidate fanout; callers
    trading recall for cost can lower ``max_hamming``.

    ``max_hamming`` must be <= 15: 64 bits split into at most 16 chunks of
    >= 4 bits — beyond that the pigeonhole guarantee breaks (chunks would
    need to shrink below 1 bit of discrimination) and every doc collides.
    Chunk buckets larger than ``max_bucket`` are dropped from candidate
    generation (the ``graph.capped_pairs`` pair-bomb cap);
    ``return_dropped=True`` also returns them as
    ``(chunk_no, chunk, n_members)``.  Runs two eager jobs: the signature
    checkpoint and the chunk-table checkpoint."""
    if max_hamming > 15:
        raise ValueError(
            f"max_hamming={max_hamming} > 15: the 16-chunk pigeonhole bound "
            "no longer guarantees recall; use MinHash LSH for looser matching"
        )
    n_chunks = max_hamming + 1
    base_w = 64 // n_chunks
    extra = 64 % n_chunks
    widths = [base_w + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    # localCheckpoint, not persist — released with the result's lifetime
    # (same fix as minhash_lsh_pairs/ngram_jaccard_pairs above; a bare
    # persist() pins the signatures in executor memory for the session)
    sigs = simhash_signatures(docs, text_col, shingle_n).localCheckpoint(
        eager=True
    )
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", offsets[c]).bitwiseAND(
                        F.lit((1 << widths[c]) - 1)
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_no", "chunk"),
    )
    joined, dropped = capped_pairs(chunks, ["chunk_no", "chunk"], "doc_id", max_bucket)
    cand = joined.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("sig_a"),
        F.col("b.simhash").alias("sig_b"),
    ).distinct()
    pairs = cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
    if return_dropped:
        return pairs, dropped.withColumnRenamed("n", "n_members")
    return pairs


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine near-duplicate pairs ``[id_a, id_b, cosine]``.

    Brute-force O(n²) theta self-join (BroadcastNestedLoop) — the
    correctness baseline and verifier for the LSH scale path
    (operators/similarity.py knn_lsh); it must NEVER run at scale.  Dot
    products run as ``aggregate(zip_with(...))`` JVM expressions over
    normalized vectors.
    """
    norm = F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    normed = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x / norm).alias("v"),
    )
    pairs = (
        normed.alias("a")
        .join(normed.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.aggregate(
                F.zip_with("a.v", "b.v", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return pairs


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Transitive near-duplicate clusters with a deterministic keeper.

    The pipeline step after pair generation: near-dup similarity is not
    transitive, but dedup POLICY must be (keeping both B and C because
    they are each "only" similar to A still ships two near-copies of A),
    so the standard corpus recipe closes the pair list transitively —
    connected components over the doc-similarity graph — and keeps one
    document per component.

    ``DataFrame[doc_id, cluster_id, keep]`` over every document that
    appears in at least one near-dup pair; ``cluster_id`` is the smallest
    doc_id of the component (components.py min-label semantics, so the
    id doubles as the canonical keeper), ``keep`` marks it.  Documents
    with no near-dup pair are absent — they are all keepers, and at
    corpus scale materializing an identity row per clean document would
    dwarf the clusters (callers that want the kept corpus anti-join the
    ``keep = false`` rows against ``docs``, see :func:`dedup_corpus`).

    ``pairs``: pre-computed candidate pairs ``[doc_a, doc_b, ...]`` (any
    extra columns ignored) — pass the output of any of this module's
    pair generators to choose the family; default builds
    :func:`minhash_lsh_pairs` with the given knobs.

    Scale: the pair graph is SPARSE by construction (banded LSH with
    capped buckets), and the component loop is components.py's
    alternating large/small-star over exactly these edges — per-round
    lineage-flat checkpoints, no driver-side state.  One extra shuffle
    (groupBy cluster) would compute cluster sizes; left to callers.
    """
    from parallel_louvain_method_spark.operators.components import (
        connected_components,
    )

    if pairs is None:
        pairs = minhash_lsh_pairs(
            docs,
            text_col=text_col,
            n_hashes=n_hashes,
            bands=bands,
            shingle_n=shingle_n,
            threshold=threshold,
            max_bucket=max_bucket,
        )
    edges = pairs.select(
        F.col("doc_a").cast("long").alias("src"),
        F.col("doc_b").cast("long").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    comp = connected_components(edges)
    return comp.select(
        F.col("vtx").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("vtx") == F.col("component")).alias("keep"),
    )


def dedup_corpus(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """``docs`` minus the non-keeper members of ``clusters`` — the kept
    corpus after :func:`near_dup_clusters` (one anti-join; documents
    absent from ``clusters`` are untouched keepers by construction)."""
    dropped = clusters.filter(~F.col("keep")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(dropped, id_col, "left_anti")
