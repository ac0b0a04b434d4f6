"""Dedup / similarity / text operators on driver testdata."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parallel_louvain_method_spark.operators import dedup as D
from parallel_louvain_method_spark.operators import text as T
from parallel_louvain_method_spark.operators.similarity import (
    knn_brute_force,
    knn_lsh,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "other")], "doc_id long, text string"
    )
    groups = D.exact_duplicates(df).collect()
    assert len(groups) == 1 and groups[0]["doc_ids"] == [0, 1]
    kept = sorted(r["doc_id"] for r in D.exact_dedup(df).collect())
    assert kept == [0, 2]


def test_minhash_lsh_finds_near_dups(spark, docs):
    # plant a near-duplicate pair: doc + doc with one word changed
    base = docs.limit(1).first()["text"]
    mutated = base.replace(base.split()[0], "zzz", 1)
    df = docs.select("doc_id", "text").union(
        docs.sparkSession.createDataFrame(
            [(99999, mutated)], "doc_id long, text string"
        )
    )
    pairs = D.minhash_lsh_pairs(df, threshold=0.5).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 99999) in found
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in pairs}[(0, 99999)]
    assert est > 0.5


def test_ngram_jaccard_exact_oracle(spark):
    a = "the quick brown fox jumps over the lazy dog"
    b = "the quick brown fox leaps over the lazy dog"
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    rows = D.ngram_jaccard_pairs(df, n=2, threshold=0.0).collect()
    assert len(rows) == 1
    # bigrams: 8 each; shared = {the quick, quick brown, brown fox, over the,
    # the lazy, lazy dog} = 6; union = 10
    assert rows[0]["jaccard"] == pytest.approx(6 / 10)


def test_simhash_near_dups(spark, docs):
    base = docs.limit(1).first()["text"]
    words = base.split()
    words[len(words) // 2] = "zzz"
    df = docs.select("doc_id", "text").union(
        docs.sparkSession.createDataFrame(
            [(99999, " ".join(words))], "doc_id long, text string"
        )
    )
    # short docs (~23 words) flip ~12 bits for a one-word edit; budget 15
    pairs = D.simhash_near_dups(df, max_hamming=15)
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert (0, 99999) in found
    assert 0 < found[(0, 99999)] <= 15
    # byte-identical duplicate -> hamming 0
    df2 = df.union(
        df.sparkSession.createDataFrame([(99998, base)], "doc_id long, text string")
    )
    found2 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_dups(df2, max_hamming=15).collect()
    }
    assert found2[(0, 99998)] == 0


def test_embedding_near_dups_and_knn(spark, embeddings):
    sub = embeddings.limit(60)
    # brute force on numpy as oracle
    rows = sub.collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    want_top1 = {
        ids[i]: ids[int(np.argmax(sims[i]))] for i in range(len(ids))
    }
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in knn_brute_force(sub, k=1).collect()
    }
    # float32 vs float64 rounding can flip near-ties; demand 95% agreement
    agree = sum(got[i] == want_top1[i] for i in ids) / len(ids)
    assert agree >= 0.95


def test_knn_lsh_recall(spark, embeddings):
    # synthetic embeddings are near-random (top-5 cosine is modest), so use
    # few planes / many tables: collision prob (1-θ/π)^planes per table
    sub = embeddings.limit(80)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_brute_force(sub, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_lsh(sub, k=5, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_knn_lsh_planted_duplicate(spark, embeddings):
    # an exact copy (cosine 1.0) collides in EVERY table -> always found
    sub = embeddings.limit(40)
    first = sub.first()
    dup = spark.createDataFrame(
        [(99999, first["embedding"], first["label"])], sub.schema
    )
    got = knn_lsh(sub.union(dup), k=1, n_planes=8, n_tables=2).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got}
    assert top1.get(99999) == first["vec_id"]
    assert top1.get(first["vec_id"]) == 99999


def test_token_counts_and_quality(spark, docs):
    tc = T.token_counts(docs).collect()
    by_id = {r["doc_id"]: r for r in tc}
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    for i in list(raw)[:20]:
        assert by_id[i]["ws_tokens"] == len(raw[i].split())
        assert by_id[i]["chars"] == len(raw[i])
    q = T.quality_scores(docs)
    assert q.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0


def test_language_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat sat of the mat and it was good for all that"),
            (1, "el perro que corre en la casa no es un gato se fue"),
            (2, "der hund und die katze in den garten von zu das mit sich"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in T.language_id(df).collect()}
    assert got[0] == "en" and got[1] == "es" and got[2] == "de" and got[3] == "und"


def test_fingerprints_shift_robust(spark):
    df = spark.createDataFrame(
        [(0, "abcdefghijklmnop"), (1, "XXabcdefghijklmnop"), (2, "totally different")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in T.fingerprints(df).collect()}
    assert fp[0] == fp[1]  # shared minimal 8-gram survives the prefix edit
    assert fp[0] != fp[2]


def test_minhash_hot_bucket_capped(spark, docs):
    """A degenerate bucket (many byte-identical docs) is dropped and
    REPORTED, not exploded into k^2/2 pairs; genuine near-dups elsewhere
    are still found (VERDICT r1 #5: the corpus.py skew-cap house pattern)."""
    base = docs.limit(1).first()["text"]
    mutated = base.replace(base.split()[0], "zzz", 1)
    boiler = [(10_000 + i, "lorem ipsum dolor sit amet " * 4) for i in range(25)]
    df = docs.select("doc_id", "text").union(
        spark.createDataFrame(boiler + [(99999, mutated)], "doc_id long, text string")
    )
    pairs, dropped = D.minhash_lsh_pairs(
        df, threshold=0.5, max_bucket=10, return_dropped=True
    )
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 99999) in found  # planted pair survives the cap
    # no pair between two boilerplate docs (their buckets were dropped)
    assert not any(a >= 10_000 and b < 99999 for a, b in found)
    drops = dropped.collect()
    assert len(drops) > 0 and all(r["n_members"] == 25 for r in drops)


def test_simhash_hot_bucket_capped_and_budget_guard(spark, docs):
    base = docs.limit(1).first()["text"]
    boiler = [(10_000 + i, "na na na boilerplate " * 6) for i in range(30)]
    df = docs.select("doc_id", "text").union(
        spark.createDataFrame(boiler + [(99999, base)], "doc_id long, text string")
    )
    pairs, dropped = D.simhash_near_dups(
        df, max_hamming=3, max_bucket=10, return_dropped=True
    )
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 99999) in found  # identical doc pair (hamming 0) survives
    assert not any(10_000 <= a < 99999 and 10_000 <= b < 99999 for a, b in found)
    assert dropped.count() > 0
    with pytest.raises(ValueError):
        D.simhash_near_dups(df, max_hamming=16)


def test_knn_lsh_hot_bucket_capped(spark, embeddings):
    """Oversized LSH buckets are excluded from candidate generation."""
    sub = embeddings.limit(20)
    first = sub.first()
    clones = spark.createDataFrame(
        [(50_000 + i, first["embedding"], first["label"]) for i in range(40)],
        sub.schema,
    )
    got = knn_lsh(
        sub.union(clones), k=1, n_planes=2, n_tables=2, max_bucket=10
    ).collect()
    # the 40-clone bucket (plus the original) is dropped in every table:
    # no clone appears as a query
    assert not any(r["query_id"] >= 50_000 for r in got)
    # other vectors still get ranked neighbors
    assert len(got) > 0


def test_exact_duplicates_member_cap(spark):
    """Group member lists are capped (bounded aggregation buffer — a
    degenerate group at corpus scale must not build one giant array row)
    while the count stays EXACT."""
    rows = [(i, "identical body") for i in range(7)] + [(100, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = D.exact_duplicates(df, member_cap=3).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n"] == 7  # exact size survives the cap
    assert g["doc_ids"] == [0, 1, 2]  # lowest ids kept, deterministic


def test_knn_lsh_axis_planes(spark, embeddings):
    """The axis-aligned plane family (the SQL-expressible, oracle-checked
    variant) recovers a planted exact duplicate and agrees with brute force
    on a majority of top-1s."""
    sub = embeddings.limit(60)
    first = sub.first()
    dup = spark.createDataFrame(
        [(99999, first["embedding"], first["label"])], sub.schema
    )
    got = knn_lsh(
        sub.union(dup), k=1, n_planes=4, n_tables=8, dim=64, planes="axis"
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got}
    assert top1.get(99999) == first["vec_id"]
    assert top1.get(first["vec_id"]) == 99999
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in knn_brute_force(sub, k=1).collect()
    }
    agree = sum(1 for q, n in exact.items() if top1.get(q) == n)
    assert agree / len(exact) >= 0.5


def test_python_xxh64_matches_spark(spark):
    """Parity pin for functions/pyhash.py: the pure-Python XXH64 twin that
    materializes the MinHash/SimHash oracle artifacts must reproduce
    Spark's xxhash64 (seed 42) bit-for-bit — across every tail-length
    class of the algorithm (0-3, 4-7, 8-31, >=32 bytes) and on real
    fixture shingles."""
    from parallel_louvain_method_spark.functions.pyhash import (
        hashed_shingles,
        word_ngrams,
        xxh64,
    )

    samples = [
        "", "a", "abc", "abcd", "abcdefg", "abcdefgh", "q" * 31, "w" * 32,
        "the quick brown fox jumps over the lazy dog", "é ü ñ 漢字",
    ]
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    samples += [r["text"] for r in docs.limit(8).collect()]
    got = spark.createDataFrame([(s,) for s in samples], "s string").select(
        "s", F.xxhash64("s").alias("h")
    ).collect()
    for r in got:
        assert xxh64(r["s"].encode("utf-8")) == r["h"], repr(r["s"])

    # shingle twin: the (doc_id, h) artifact rows equal the Spark
    # pipeline's hashed-shingle intermediate, minhash AND simhash flavors
    from parallel_louvain_method_spark.operators.dedup import (
        minhash_hashed_shingles,
        simhash_hashed_tokens,
    )

    sub = docs.limit(20)
    rows = sub.select("doc_id", "text").collect()
    spark_mh = {
        (r["doc_id"], r["h"]) for r in minhash_hashed_shingles(sub).collect()
    }
    py_mh = {
        (doc_id, h)
        for doc_id, text in [(r["doc_id"], r["text"]) for r in rows]
        for h in hashed_shingles(text, 3, (1 << 31) - 1)
    }
    assert spark_mh == py_mh
    spark_sh = {
        (r["doc_id"], r["h"]) for r in simhash_hashed_tokens(sub).collect()
    }
    py_sh = {
        (doc_id, h)
        for doc_id, text in [(r["doc_id"], r["text"]) for r in rows]
        for h in hashed_shingles(text, 2)
    }
    assert spark_sh == py_sh
    # and the ngram twin agrees as a set
    one = rows[0]["text"]
    from parallel_louvain_method_spark.operators.dedup import _word_ngrams
    spark_ng = sub.limit(1).select(
        F.explode(_word_ngrams("text", 3)).alias("g")
    ).collect()
    assert {r["g"] for r in spark_ng} == set(word_ngrams(one, 3))


def test_pipeline_caches_release(spark, docs, embeddings):
    """r3 VERDICT #3: the sketch pipelines' reused intermediates (minhash
    sigs, jaccard grams, knn normalized base) must not pin executor memory
    for the whole session.  They are localCheckpoint'ed, so dropping the
    result DataFrame releases them via GC + ContextCleaner — assert the
    persistent-RDD set returns to its baseline."""
    import gc
    import time

    jsc = spark.sparkContext._jsc

    def persistent_ids() -> set:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    # the module fixtures persist lazily — force their caches to exist
    # BEFORE the baselines or they'd show up as false leaks
    docs.count()
    embeddings.count()
    # one representative — ngram grams, simhash sigs and the knn base
    # follow the same localCheckpoint pattern; release latency is ~30 s
    # per RDD (py4j finalizer + ContextCleaner), so testing each would
    # multiply it
    # two attempts, each against its own baseline: a reintroduced
    # session-lifetime persist() leaks on EVERY attempt, while py4j's
    # rare lost-detach race (a dropped finalizer detach pins that one
    # JVM object for the rest of the run — observed ~1/10 runs under
    # load) poisons at most the attempt it struck
    leaked = None
    for _attempt in range(2):
        base = persistent_ids()
        pairs = D.minhash_lsh_pairs(docs.limit(50), threshold=0.3)
        pairs.count()
        assert persistent_ids() - base, "expected a live checkpoint RDD"
        del pairs
        deadline = time.time() + 90
        while time.time() < deadline and not persistent_ids() <= base:
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.5)
        leaked = persistent_ids() - base
        if not leaked:
            break
    assert not leaked, leaked


def test_community_membership_capped(spark):
    """members lists at most member_cap lowest ids; size stays exact."""
    from parallel_louvain_method_spark.sources.edges import community_membership

    assign = spark.createDataFrame(
        [(v, v % 2) for v in range(20)], "vtx long, comm long"
    )
    rows = {r["comm"]: r for r in community_membership(assign, member_cap=3).collect()}
    assert rows[0]["size"] == 10 and rows[1]["size"] == 10
    assert rows[0]["members"] == [0, 2, 4] and rows[1]["members"] == [1, 3, 5]
    full = {r["comm"]: r for r in community_membership(assign).collect()}
    assert len(full[0]["members"]) == 10


def test_ivf_knn_recall_and_method_parity(spark, embeddings):
    """IVF coarse-quantizer ANN: recovers a planted exact duplicate,
    mostly agrees with brute force on top-1, and the expr (SQL-oracle)
    and matmul (scale) assignment paths produce IDENTICAL output —
    the centroid math is shared, only the argmax execution differs."""
    from parallel_louvain_method_spark.operators.similarity import ivf_knn

    sub = embeddings.limit(60).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    first = sub.first()
    dup = spark.createDataFrame(
        [(99999, first["embedding"])], sub.schema
    )
    data = sub.union(dup)
    got = ivf_knn(
        data, k=1, n_centroids=8, n_probe=2, iters=2, assign_method="expr"
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got}
    # the planted duplicate shares its twin's cluster by construction
    assert top1.get(99999) == first["vec_id"]
    assert top1.get(first["vec_id"]) == 99999
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in knn_brute_force(sub, k=1).collect()
    }
    agree = sum(1 for q, n in exact.items() if top1.get(q) == n)
    assert agree / len(exact) >= 0.5
    got_mm = ivf_knn(
        data, k=1, n_centroids=8, n_probe=2, iters=2, assign_method="matmul"
    ).collect()
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in got_mm} == {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in got
    }


def test_pyhash_whitespace_parity(spark):
    """Spark's F.trim strips SPACES only; the pure-Python twin must not
    strip tabs/newlines either (str.strip() would), or the MinHash/SimHash
    oracle artifacts diverge on whitespace-padded text — common real text
    ends with a newline."""
    from parallel_louvain_method_spark.functions.pyhash import hashed_shingles
    from parallel_louvain_method_spark.operators.dedup import (
        minhash_hashed_shingles,
        simhash_hashed_tokens,
    )

    texts = [
        (1, "\tleading tab one two"),
        (2, "trailing newline one two\n"),
        (3, "  spaces  and\ttab  inside  "),
        (4, "crlf ending one two\r\n"),
        (5, "\n\nblank\n\nlines\n\n"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    spark_mh = {
        (r["doc_id"], r["h"]) for r in minhash_hashed_shingles(docs).collect()
    }
    py_mh = {
        (i, h)
        for i, t in texts
        for h in hashed_shingles(t, 3, (1 << 31) - 1)
    }
    assert spark_mh == py_mh
    spark_sh = {
        (r["doc_id"], r["h"]) for r in simhash_hashed_tokens(docs).collect()
    }
    py_sh = {(i, h) for i, t in texts for h in hashed_shingles(t, 2)}
    assert spark_sh == py_sh


# ---------------------------------------------------------------------------
# embedding statistics (operators/embstats.py)
# ---------------------------------------------------------------------------


def _emb_matrix(embeddings) -> tuple[np.ndarray, np.ndarray]:
    rows = embeddings.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, X


def test_embedding_moments_vs_numpy(spark, embeddings):
    from parallel_louvain_method_spark.operators.embstats import (
        embedding_moments,
    )

    _, X = _emb_matrix(embeddings)
    got = {r["pos"]: r for r in embedding_moments(embeddings).collect()}
    assert set(got) == set(range(X.shape[1]))
    for p in range(X.shape[1]):
        assert got[p]["n"] == X.shape[0]
        assert abs(got[p]["mean"] - X[:, p].mean()) < 1e-9
        assert abs(got[p]["var"] - X[:, p].var()) < 1e-9


def test_embedding_covariance_vs_numpy(spark, embeddings):
    """The Arrow-batched X.T@X partial path must reproduce numpy's
    population covariance on the driver fixture."""
    from parallel_louvain_method_spark.operators.embstats import (
        embedding_covariance,
    )

    _, X = _emb_matrix(embeddings)
    want = np.cov(X, rowvar=False, bias=True)
    rows = embedding_covariance(embeddings, dim=X.shape[1]).collect()
    assert len(rows) == X.shape[1] * (X.shape[1] + 1) // 2
    for r in rows:
        assert r["i"] <= r["j"]
        assert abs(r["cov"] - want[r["i"], r["j"]]) < 1e-9, (r["i"], r["j"])


def test_pca_project_vs_numpy(spark, embeddings):
    """pca_project == centered @ top-k eigh components (sign-canonical),
    and the k-dim projection preserves descending component variance."""
    from parallel_louvain_method_spark.operators.embstats import pca_project

    ids, X = _emb_matrix(embeddings)
    k = 4
    C = np.cov(X, rowvar=False, bias=True)
    w, V = np.linalg.eigh(C)
    comps = V[:, ::-1][:, :k]
    for c in range(k):
        lead = int(np.argmax(np.abs(comps[:, c])))
        if comps[lead, c] < 0:
            comps[:, c] = -comps[:, c]
    want = (X - X.mean(axis=0)) @ comps
    got_rows = pca_project(embeddings, k=k).collect()
    got = {r["id"]: np.array(r["proj"]) for r in got_rows}
    got_mat = np.array([got[i] for i in ids])
    assert got_mat.shape == want.shape
    assert np.allclose(got_mat, want, atol=1e-6)
    # projected variance is descending (top components first)
    pv = got_mat.var(axis=0)
    assert all(pv[i] >= pv[i + 1] - 1e-12 for i in range(k - 1))


def test_quantize_embeddings_roundtrip(spark, embeddings):
    """q in [-127,127]; the max-|x| element of every dimension hits
    exactly +-127; dequantized values are within scale/2 of the input;
    an all-zero dimension quantizes to 0 (try_divide NULL path)."""
    from parallel_louvain_method_spark.operators.embstats import (
        quantize_embeddings,
    )

    ids, X = _emb_matrix(embeddings)
    quantized, scales = quantize_embeddings(embeddings)
    sc = {r["pos"]: r["scale"] for r in scales.collect()}
    for p in range(X.shape[1]):
        assert abs(sc[p] - np.abs(X[:, p]).max() / 127.0) < 1e-12
    qrows = quantized.collect()
    assert len(qrows) == X.size
    id_to_row = {v: i for i, v in enumerate(ids)}
    for r in qrows[:2000]:
        x = X[id_to_row[r["id"]], r["pos"]]
        s = sc[r["pos"]]
        assert -127 <= r["q"] <= 127
        assert abs(r["q"] * s - x) <= s / 2 + 1e-12
    # every dimension's extreme maps to +-127
    by_pos: dict[int, int] = {}
    for r in qrows:
        by_pos[r["pos"]] = max(by_pos.get(r["pos"], 0), abs(r["q"]))
    assert all(v == 127 for v in by_pos.values())
    # all-zero dimension -> scale 0, q 0
    z = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.0, -2.0])],
        "vec_id long, embedding array<double>",
    )
    zq, zs = quantize_embeddings(z)
    assert {r["scale"] for r in zs.collect() if r["pos"] == 0} == {0.0}
    assert all(r["q"] == 0 for r in zq.collect() if r["pos"] == 0)


def test_pack_sequences_concat_and_chunk(spark):
    """Handcrafted shard: known token counts, one doc split across a
    budget boundary, zero-token doc dropped, every sequence but the last
    exactly full."""
    from parallel_louvain_method_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    rows = [
        (0, "a b c"),          # 3 tokens
        (1, "d e f g"),        # 4 tokens -> spans seq 0 (2 left) + seq 1
        (2, "   "),            # 0 tokens after trim -> dropped? (split quirk)
        (3, "h i j k l m"),    # 6 tokens -> spans seq 1 + seq 2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(docs, budget=5, n_shards=1).collect()
    got = {
        (r["doc_id"], r["seq_id"]): (r["doc_from"], r["doc_to"], r["seq_from"])
        for r in out
    }
    # doc 2: split('\s+') of '' after trim yields [''] (size 1) — it is
    # counted as 1 whitespace token, same as text.token_counts semantics;
    # cumulative layout: doc0 [0,3) seq0; doc1 [3,7); doc2 [7,8); doc3 [8,14)
    assert got[(0, 0)] == (0, 3, 0)
    assert got[(1, 0)] == (0, 2, 3)
    assert got[(1, 1)] == (2, 4, 0)
    assert got[(2, 1)] == (0, 1, 2)
    assert got[(3, 1)] == (0, 2, 3)
    assert got[(3, 2)] == (2, 6, 0)
    # stats: 14 tokens -> 3 sequences, fill 14/15
    st = packing_stats(
        pack_sequences(docs, budget=5, n_shards=1), budget=5
    ).collect()
    assert len(st) == 1
    assert st[0]["n_sequences"] == 3 and st[0]["tokens"] == 14
    assert abs(st[0]["fill_ratio"] - 14 / 15) < 1e-12


def test_pack_sequences_sharding_and_full_middles(spark):
    """Multi-shard: routing is deterministic, shards are independent, and
    every non-final sequence of every shard is exactly full (the no-padding
    invariant of concat-and-chunk)."""
    from parallel_louvain_method_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (1 + (i * 7) % 23)) for i in range(200)],
        "doc_id long, text string",
    )
    packed = pack_sequences(docs, budget=64, n_shards=4, seed=9)
    rows = packed.collect()
    shards = {r["shard"] for r in rows}
    assert shards == {0, 1, 2, 3}
    import collections

    fill = collections.Counter()
    for r in rows:
        fill[(r["shard"], r["seq_id"])] += r["doc_to"] - r["doc_from"]
    for (sh, sq), f in fill.items():
        last = max(q for s2, q in fill if s2 == sh)
        if sq < last:
            assert f == 64, (sh, sq, f)
        else:
            assert 0 < f <= 64
    # same seed -> identical routing; different seed -> different routing
    again = pack_sequences(docs, budget=64, n_shards=4, seed=9).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    other = pack_sequences(docs, budget=64, n_shards=4, seed=10).collect()
    assert sorted(map(tuple, rows)) != sorted(map(tuple, other))


def test_cli_pack_subcommand(spark, tmp_path, capsys):
    import json

    from parallel_louvain_method_spark.cli import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "tok " * (1 + i % 5)) for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(docs)
    out = str(tmp_path / "packed")
    assert main([
        "pack", "--docs", docs, "--out", out,
        "--budget", "16", "--shards", "2", "--seed", "3",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 40 docs x (1..5 tokens by i%5) = 120 tokens; "tok " * n splits to
    # n tokens... plus trailing '' from split? trim handles it; 8 seqs of 16
    assert report["tokens"] == sum(1 + i % 5 for i in range(40))
    df = spark.read.parquet(out)
    assert df.columns == [
        "shard", "seq_id", "doc_id", "doc_from", "doc_to", "seq_from"
    ]


def test_project_embeddings_fixed_basis(spark):
    """project_embeddings == centered @ components for literal bases,
    and pca_project composes through it unchanged (refactor guard)."""
    import numpy as np

    from parallel_louvain_method_spark.operators.embstats import (
        project_embeddings,
    )

    rng = np.random.default_rng(5)
    X = rng.normal(size=(20, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    comps = [[1.0, 0, 0, 0, 0, 0, 0, 0], [0.5] * 8]
    mean = [0.1] * 8
    got = {
        r["id"]: r["proj"]
        for r in project_embeddings(df, comps, mean).collect()
    }
    C = np.array(comps).T
    want = (X.astype(np.float64) - 0.1) @ C
    for i in range(20):
        assert np.allclose(got[i], want[i], atol=1e-9)
    # no mean -> uncentered
    got2 = {
        r["id"]: r["proj"] for r in project_embeddings(df, comps).collect()
    }
    want2 = X.astype(np.float64) @ C
    for i in range(20):
        assert np.allclose(got2[i], want2[i], atol=1e-9)


def test_cli_temporal_and_embstats(spark, tmp_path, capsys):
    import datetime
    import json

    from parallel_louvain_method_spark.cli import main

    ev = str(tmp_path / "events")
    base = datetime.datetime(2026, 1, 1)
    rows = [
        # users 1,2 co-occur in bucket 0; 2,3 in bucket 1 (time-respecting
        # chain 1 -> 2 -> 3); 3,1 co-occur in bucket 0 is absent so the
        # backwards path 3 -> ... -> 1 does not exist
        (1, "a", base),
        (2, "a", base),
        (2, "a", base + datetime.timedelta(seconds=700)),
        (3, "a", base + datetime.timedelta(seconds=700)),
        (9, "b", base),
    ]
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(ev)
    out = str(tmp_path / "contacts")
    assert main(["temporal", "--events", ev, "--out", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"contacts": 4, "dropped_groups": 0}
    out2 = str(tmp_path / "reach")
    assert main([
        "temporal", "--events", ev, "--out", out2, "--seeds", "1",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["reached"] == 3  # 1 (seed), 2 (bucket 0), 3 (bucket 1)
    got = {
        r["vtx"]: r["t_arr"] for r in spark.read.parquet(out2).collect()
    }
    assert set(got) == {1, 2, 3} and got[2] <= got[3]

    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i), float(-i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb)
    for op, want_rows in (
        ("moments", 3), ("covariance", 6), ("pca", 10), ("quantize", 30)
    ):
        out3 = str(tmp_path / f"emb_{op}")
        assert main([
            "embstats", "--embeddings", emb, "--out", out3, "--op", op,
        ]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep == {"op": op, "rows": want_rows}


def test_bloom_semi_join_planted(spark):
    from parallel_louvain_method_spark.functions.bloom import (
        _M31,
        _WORD,
        bloom_build,
        bloom_probe_constants,
        bloom_semi_join,
    )

    members = [2, 5, 9, 77]
    build = spark.createDataFrame([(k,) for k in members], "k long")
    probe = spark.createDataFrame([(i,) for i in range(200)], "key long")
    m_bits, probes, seed = 256, 3, 7

    kept = {
        r.key
        for r in bloom_semi_join(
            probe, "key", build, "k", m_bits=m_bits, probes=probes, seed=seed
        ).collect()
    }
    # no false negatives, ever
    assert set(members) <= kept

    # words agree with an independent pure-Python bloom
    consts = bloom_probe_constants(probes, seed)
    words: dict[int, int] = {}
    for k in members:
        for a, b in consts:
            pos = ((k % _M31) * a + b) % _M31 % m_bits
            words[pos // _WORD] = words.get(pos // _WORD, 0) | (
                1 << (pos % _WORD)
            )
    got = {
        r.word_idx: r.word
        for r in bloom_build(
            build, "k", m_bits=m_bits, probes=probes, seed=seed
        ).collect()
    }
    assert got == words

    # kept set == exactly the keys whose every probe bit is set
    expect = set()
    for key in range(200):
        if all(
            words.get((((key % _M31) * a + b) % _M31 % m_bits) // _WORD, 0)
            >> ((((key % _M31) * a + b) % _M31 % m_bits) % _WORD)
            & 1
            for a, b in consts
        ):
            expect.add(key)
    assert kept == expect


def test_bloom_oracle_sql_duckdb_twin(spark, tmp_path):
    import duckdb

    from parallel_louvain_method_spark.functions.bloom import (
        bloom_oracle_sql,
        bloom_semi_join,
    )

    build = spark.createDataFrame([(k,) for k in (3, 8, 60, 61)], "k long")
    probe = spark.createDataFrame(
        [(i, i * 11) for i in range(150)], "key long, payload long"
    )
    kept = sorted(
        (r.key, r.payload)
        for r in bloom_semi_join(
            probe, "key", build, "k", m_bits=128, probes=2, seed=3
        ).collect()
    )
    bp, pp = str(tmp_path / "b.parquet"), str(tmp_path / "p.parquet")
    build.toPandas().to_parquet(bp)
    probe.toPandas().to_parquet(pp)
    sql = bloom_oracle_sql(
        f"SELECT k FROM read_parquet('{bp}')",
        f"SELECT key, payload FROM read_parquet('{pp}')",
        "key",
        m_bits=128,
        probes=2,
        seed=3,
    )
    oracle = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert kept == oracle


def test_cli_bloom_and_ingest(spark, tmp_path, capsys):
    import json

    from parallel_louvain_method_spark.cli import main

    # bloom: probe 0..99 against a 3-key build set
    bpath, ppath = str(tmp_path / "build"), str(tmp_path / "probe")
    spark.createDataFrame([(5,), (9,), (40,)], "k long").write.parquet(bpath)
    spark.createDataFrame(
        [(i,) for i in range(100)], "key long"
    ).write.parquet(ppath)
    out = str(tmp_path / "kept")
    assert main([
        "bloom", "--probe", ppath, "--build", bpath, "--out", out,
        "--probe-key", "key", "--build-key", "k", "--m-bits", "4096",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = {r.key for r in spark.read.parquet(out).collect()}
    assert {5, 9, 40} <= kept and rep["kept"] == len(kept)

    # ingest: bootstrap then incremental; final edges == full rebuild
    from parallel_louvain_method_spark.sources.corpus import (
        shared_content_edges,
    )

    def corpus(rows, path):
        spark.createDataFrame(
            [(n, "p", "c", "py", b) for n, b in rows],
            "repo string, path string, commit string, lang string, "
            "content string",
        ).write.parquet(path)

    c1, c2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    corpus([("r1", "x"), ("r2", "x"), ("r3", "y")], c1)
    corpus([("r3", "x"), ("r4", "y")], c2)
    e1, p1 = str(tmp_path / "e1"), str(tmp_path / "p1")
    assert main([
        "ingest", "--batch", c1, "--out-edges", e1, "--out-postings", p1,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"edges": 1, "postings": 3, "dropped_groups": 0}
    e2, p2 = str(tmp_path / "e2"), str(tmp_path / "p2")
    assert main([
        "ingest", "--batch", c2, "--out-edges", e2, "--out-postings", p2,
        "--old-edges", e1, "--old-postings", p1,
    ]) == 0
    got = sorted(map(tuple, spark.read.parquet(e2).collect()))
    both = spark.read.parquet(c1).union(spark.read.parquet(c2))
    want = sorted(map(tuple, shared_content_edges(both)[0].collect()))
    # x: {r1,r2,r3} -> 3 pairs; y: {r3,r4} -> 1 pair
    assert got == want and len(got) == 4


def test_cli_sparsify_and_assoc(spark, tmp_path, capsys):
    import json

    from parallel_louvain_method_spark.cli import main

    ep = str(tmp_path / "edges")
    spark.createDataFrame(
        [(0, 1, 5.0), (0, 2, 4.0), (0, 3, 3.0)],
        "src long, dst long, weight double",
    ).write.parquet(ep)
    out = str(tmp_path / "sparse")
    assert main(["sparsify", "--edges", ep, "--out", out, "--k", "2"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"edges": 3, "k": 2}  # (0,3) survives via vertex 3

    aep = str(tmp_path / "aedges")
    pp = str(tmp_path / "post")
    spark.createDataFrame(
        [("A", "B", 2.0)], "node_a string, node_b string, weight double"
    ).write.parquet(aep)
    spark.createDataFrame(
        [("A", "1"), ("A", "2"), ("B", "2")], "node string, h string"
    ).write.parquet(pp)
    out2 = str(tmp_path / "assoc")
    assert main([
        "assoc", "--edges", aep, "--postings", pp, "--out", out2,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"edges": 1}
    assert set(spark.read.parquet(out2).columns) == {
        "node_a", "node_b", "weight", "jaccard", "dice", "cosine",
        "overlap", "pmi",
    }


def test_cli_diff(spark, tmp_path, capsys):
    import json

    from parallel_louvain_method_spark.cli import main

    op, np_ = str(tmp_path / "old"), str(tmp_path / "new")
    spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 4.0)], "src long, dst long, weight double"
    ).write.parquet(op)
    spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 9.0), (7, 8, 1.0)],
        "src long, dst long, weight double",
    ).write.parquet(np_)
    out = str(tmp_path / "d")
    assert main(["diff", "--old", op, "--new", np_, "--out", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {
        "rows": 3,
        "by_status": {"same": 1, "changed": 1, "added": 1},
    }
