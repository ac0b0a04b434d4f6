"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: corpus-style shared-content edge build over the
``documents`` table → Louvain community detection → per-node assignment.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (+ the training-data pipeline ops).  SQL-expressible operators
carry a DuckDB oracle; the sketch pipelines (MinHash, SimHash, LSH-ANN)
are oracled through their hash seam (a pure-Python XXH64 twin materializes
the hashed intermediates for DuckDB — ``_ensure_hash_artifacts``), and the
iterative operators are oracled through FIXED-STEP variants (``lpa_k2``:
two unrolled LPA rounds with pyhash activity bits; ``louvain_sweep1``: one
synchronous sql-engine sweep, float-exact on the integer-weight gate
graph; ``louvain_coarsen_sweep``: sweep → coarsen → sweep, gating the
coarsen algebra; ``coreness_k3_peel3``: the full k-core decomposition on
a fixed peel schedule).  The full LPA run is oracled outright — at
sf0.01 it executes exactly ``max_iter`` rounds, so it unrolls like
``lpa_k2``.  A third oracle strategy covers the INCREMENTAL family
(``incremental_edges`` / ``incremental_cocommit_users`` /
``incremental_cc`` / ``incremental_triangles`` / ``incremental_degrees``):
the Spark query runs the delta-maintenance path over a split input while
the oracle recomputes FROM SCRATCH over the whole input — a hash match is
then a proof that the incremental algebra reproduces the full rebuild.  Only the full multilevel Louvain run remains rows-only
(unbounded levels + coarsening), its correctness carried by the golden
pytest suite (tests/ — reference values from
/root/reference/tests/main_test.cpp) plus the sweep1/coarsen_sweep twins.

Column-name contract: every computed column is aliased identically in the
Spark query and the oracle SQL.  Floating aggregations that are
order-sensitive (PageRank ranks, cosine) are rounded to 8-9 dp on BOTH
sides before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from parallel_louvain_method_spark.operators import graph as G
from parallel_louvain_method_spark.operators import text as T
from parallel_louvain_method_spark.operators import dedup as D
from parallel_louvain_method_spark.operators.components import (
    component_size_histogram,
    connected_components,
    incremental_components,
    refine_communities,
)
from parallel_louvain_method_spark.operators.labelprop import label_propagation
from parallel_louvain_method_spark.operators.louvain import louvain
from parallel_louvain_method_spark.operators.pagerank import pagerank
from parallel_louvain_method_spark.operators.similarity import (
    ivf_knn,
    knn_brute_force,
    knn_lsh,
)
from parallel_louvain_method_spark.operators.kcore import (
    coreness_peel,
    kcore_peel,
    s_core_peel,
)
from parallel_louvain_method_spark.operators.msf import (
    msf_rounds,
    single_linkage,
)
from parallel_louvain_method_spark.operators.metrics import (
    closeness_centrality,
    degree_assortativity,
    degree_histogram,
    graph_summary,
    harmonic_centrality,
    label_assortativity,
    map_equation,
    neighborhood_function,
    partition_compare,
    partition_quality,
    reciprocity,
    rich_club,
)
from parallel_louvain_method_spark.operators.spectral import (
    eigenvector_centrality,
    hits,
    katz_centrality,
)
from parallel_louvain_method_spark.operators.triangles import (
    clustering_coefficient,
    four_cycle_count,
    graphlet_counts,
    incremental_triangle_delta,
    triangle_count,
    weighted_clustering_coefficient,
)
from parallel_louvain_method_spark.operators.truss import edge_support, ktruss_peel
from parallel_louvain_method_spark.operators.mis import (
    coloring_rounds,
    mis_rounds,
)
from parallel_louvain_method_spark.operators.betweenness import (
    betweenness_centrality,
)
from parallel_louvain_method_spark.operators.dag import topological_levels
from parallel_louvain_method_spark.operators.paths import shortest_paths_rounds
from parallel_louvain_method_spark.operators.scc import (
    bowtie_decomposition,
    condensation,
    strongly_connected_components,
)
from parallel_louvain_method_spark.operators.walks import (
    neighbor_sample,
    random_walks,
)
from parallel_louvain_method_spark.functions.bloom import (
    bloom_oracle_sql,
    bloom_semi_join,
)
from parallel_louvain_method_spark.sources.corpus import (
    association_edge_weights,
    shared_content_edges,
    shared_content_postings,
)
from parallel_louvain_method_spark.sources import kronecker as _KR
from parallel_louvain_method_spark.streaming.events import user_sessions_batch

# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------

_PART_OFFSET = 1_000_000  # disjoint id spaces: custkey < 1e6 <= partkey+1e6


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite customer—part edge table; weight = lineitem count."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + _PART_OFFSET).alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("weight"))
    )


_EDGES_SQL = f"""
    SELECT o.o_custkey AS src, l.l_partkey + {_PART_OFFSET} AS dst,
           CAST(COUNT(*) AS DOUBLE) AS weight
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
"""

_SYM_SQL = f"""
    SELECT DISTINCT src, dst, weight FROM (
        SELECT src, dst, weight FROM ({_EDGES_SQL})
        UNION ALL
        SELECT dst AS src, src AS dst, weight FROM ({_EDGES_SQL})
    )
"""

# small sub-graph for the recursive-CTE component oracle
_CC_EDGES_SQL = f"SELECT * FROM ({_EDGES_SQL}) WHERE src < 300"


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges(spark, sf_dir).filter(F.col("src") < 300)


# small DIRECTED graph for the SCC recursive-CTE oracle: two part bands —
# a cyclic band (a -> b when a precedes b by linenumber in some order;
# opposite orders in different orders plant cycles) and a pure-DAG band
# (a -> b only when partkey a < b), so trim, coloring AND backward match
# all do real work (sf0.01: one 140-vertex giant SCC + singleton fringe)
_DPREC_SQL = """
    SELECT DISTINCT src, dst FROM (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_linenumber < b.l_linenumber
        WHERE a.l_partkey <> b.l_partkey
          AND a.l_partkey < 150 AND b.l_partkey < 150
        UNION ALL
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey >= 1000 AND a.l_partkey < 1100
          AND b.l_partkey >= 1000 AND b.l_partkey < 1100
          AND a.l_partkey < b.l_partkey
    )
"""


def _precedence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    a = l.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_a"),
        F.col("l_partkey").alias("src"),
    )
    b = l.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_b"),
        F.col("l_partkey").alias("dst"),
    )
    cyc = (
        a.join(b, "ok")
        .filter(
            (F.col("ln_a") < F.col("ln_b"))
            & (F.col("src") != F.col("dst"))
            & (F.col("src") < 150)
            & (F.col("dst") < 150)
        )
        .select("src", "dst")
    )
    dag = (
        a.join(b, "ok")
        .filter(
            (F.col("src") >= 1000)
            & (F.col("src") < 1100)
            & (F.col("dst") >= 1000)
            & (F.col("dst") < 1100)
            & (F.col("src") < F.col("dst"))
        )
        .select("src", "dst")
    )
    return (
        cyc.unionByName(dag)
        .distinct()
        .select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.lit(1.0).alias("weight"),
        )
    )


# directed multi-band "web" graph for the bow-tie gate: partkey bands of
# lineitem same-order pairs planted so all 7 Broder regions are non-empty
# at sf0.01 — core = the <150 cyclic band (both linenumber orientations),
# IN = the [1000,1100) DAG band bridging into the core, OUT = the core
# bridging into the [400,500) DAG band, TUBE via [800,830) (IN→tube→OUT,
# never touching the core), TENDRIL_IN = [600,660) (fed by IN only),
# TENDRIL_OUT = [700,760) (feeding OUT only), DISCONNECTED = stragglers
_WEB_BANDS = [
    # (src_lo, src_hi, dst_lo, dst_hi, rule): rule 'ln' = linenumber
    # order (cyclic), 'lt' = src < dst (DAG), 'any' = all cross pairs
    (1, 150, 1, 150, "ln"),
    (1000, 1100, 1000, 1100, "lt"),
    (1000, 1100, 1, 150, "any"),
    (1, 150, 400, 500, "any"),
    (400, 500, 400, 500, "lt"),
    (1000, 1100, 800, 830, "any"),
    (800, 830, 400, 500, "any"),
    (1000, 1100, 600, 660, "any"),
    (700, 760, 400, 500, "any"),
    # unbridged island -> DISCONNECTED
    (1200, 1240, 1200, 1240, "lt"),
]


def _web_band_sql(lo, hi, lo2, hi2, rule) -> str:
    cond = {
        "ln": "a.l_linenumber < b.l_linenumber",
        "lt": "a.l_partkey < b.l_partkey",
        "any": "TRUE",
    }[rule]
    return f"""
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey >= {lo} AND a.l_partkey < {hi}
          AND b.l_partkey >= {lo2} AND b.l_partkey < {hi2}
          AND a.l_partkey <> b.l_partkey AND {cond}"""


_WEB_SQL = (
    "    SELECT DISTINCT src, dst FROM (\n"
    + "        UNION ALL".join(_web_band_sql(*b) for b in _WEB_BANDS)
    + "\n    )"
)


def _web_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    a = l.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_a"),
        F.col("l_partkey").alias("src"),
    )
    b = l.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_b"),
        F.col("l_partkey").alias("dst"),
    )
    joined = a.join(b, "ok").filter(F.col("src") != F.col("dst"))
    bands = None
    for lo, hi, lo2, hi2, rule in _WEB_BANDS:
        cond = (
            (F.col("src") >= lo) & (F.col("src") < hi)
            & (F.col("dst") >= lo2) & (F.col("dst") < hi2)
        )
        if rule == "ln":
            cond &= F.col("ln_a") < F.col("ln_b")
        elif rule == "lt":
            cond &= F.col("src") < F.col("dst")
        piece = joined.filter(cond).select("src", "dst")
        bands = piece if bands is None else bands.unionByName(piece)
    return bands.distinct().select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.lit(1.0).alias("weight"),
    )


def _part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts co-occurring in an order (a < b), the triangle-bearing graph."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.withColumnsRenamed({"l_partkey": "src"})
    b = l.withColumnsRenamed({"l_partkey": "dst"})
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


_PART_PAIRS_SQL = """
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst, 1.0 AS weight
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""

_WORDS = r"string_split_regex(lower(trim(text)), '\s+')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")


def _doc_key_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a coarse content key (first 3 words) — gives the
    shared-content join a non-trivial co-occurrence structure on the
    driver's all-distinct texts."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return _docs(spark, sf_dir).select(
        F.col("source"),
        F.concat_ws(" ", F.slice(words, 1, 3)).alias("content_key"),
    )


_DOC_KEY_SQL = f"""
    SELECT source,
           array_to_string(({_WORDS})[1:3], ' ') AS content_key
    FROM documents
"""


def _incremental_cocommit_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-core incremental gate on the CO-COMMIT family: user
    co-occurrence postings from the events table, 3/4 bootstrapped THROUGH
    the incremental machinery from empty state, the last 1/4 merged as a
    batch; the oracle is the cocommit_users full-rebuild SQL, so a hash
    match certifies both the bootstrap-from-empty and the delta path of
    incremental_pair_edges on long-typed nodes."""
    from parallel_louvain_method_spark.sources.corpus import (
        incremental_pair_edges,
    )

    posts = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("node"),
        F.concat(
            F.col("event_type"), F.lit("@"), F.date_trunc("hour", "ts")
        ).alias("h"),
    )
    old_p = posts.filter("event_id % 4 != 0").select("node", "h").distinct()
    new_p = posts.filter("event_id % 4 = 0").select("node", "h").distinct()
    empty_post = spark.createDataFrame([], "node long, h string")
    empty_edges = spark.createDataFrame(
        [], "node_a long, node_b long, weight double"
    )
    base_edges, base_post, _ = incremental_pair_edges(
        empty_post, empty_edges, old_p
    )
    edges, _post, _dropped = incremental_pair_edges(
        base_post, base_edges, new_p
    )
    return edges.select(
        F.col("node_a").alias("user_a"),
        F.col("node_b").alias("user_b"),
        "weight",
    )


def _edge_diff_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-level diff between the 3/4-documents build and the full build
    (operators/graph.py edge_diff — the audit companion to incremental
    maintenance): statuses added/changed/same with both weights."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    keyed = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(words, 1, 3)).alias("content_key"),
    )
    old_e = shared_content_edges(
        keyed.filter("doc_id % 4 != 0"),
        node_col="source",
        content_col="content_key",
    )[0]
    new_e = shared_content_edges(
        keyed, node_col="source", content_col="content_key"
    )[0]
    return G.edge_diff(old_e, new_e)


def _incremental_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental edge maintenance gate: build edges from 3/4 of the
    documents, merge the remaining 1/4 as a batch via
    incremental_shared_content_edges, and let the oracle check the result
    against a FULL rebuild over all documents — certifying that the delta
    path (touched-hash scoping, signed contributions, cap transitions)
    reproduces the from-scratch build exactly."""
    from parallel_louvain_method_spark.sources.corpus import (
        incremental_shared_content_edges,
        shared_content_postings,
    )

    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    keyed = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(words, 1, 3)).alias("content_key"),
    )
    old = keyed.filter("doc_id % 4 != 0")
    batch = keyed.filter("doc_id % 4 = 0")
    old_edges, _ = shared_content_edges(
        old, node_col="source", content_col="content_key"
    )
    edges, _post, _dropped = incremental_shared_content_edges(
        shared_content_postings(old, "source", "content_key"),
        old_edges,
        batch,
        node_col="source",
        content_col="content_key",
    )
    return edges.select("node_a", "node_b", "weight")


import os as _os

# the driver's correctness-gate scale; override (env, read at import) only
# for cross-SF sweeps so the seam artifacts follow the swept parquet —
# the driver contract itself always runs the default
_GATE_SF_DIR = _os.environ.get(
    "SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01"
)
_ORACLE_ARTIFACT_DIR = "/tmp/plm_oracle"


def _ensure_hash_artifacts(sf_dir: str = _GATE_SF_DIR) -> dict[str, str]:
    """Materialize the xxhash64 intermediates the MinHash/SimHash oracles
    read (r3 VERDICT next-step #4: the LAST closable ``no_oracle`` rows).

    ``xxhash64`` is the single non-SQL-expressible step of either
    pipeline.  A pure-Python XXH64 twin (functions/pyhash.py, parity with
    the JVM pinned by pytest) computes the per-shingle hashes straight
    from the parquet — no SparkSession — and writes ``(doc_id, h)``
    tables that ``read_parquet()`` exposes to DuckDB.  Generated HERE, at
    ``oracle_sql()`` time, so the oracle is self-contained regardless of
    whether the driver runs the Spark query or the oracle first."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parallel_louvain_method_spark.functions.pyhash import hashed_shingles
    from parallel_louvain_method_spark.operators.dedup import _MERSENNE

    os.makedirs(_ORACLE_ARTIFACT_DIR, exist_ok=True)
    base = os.path.basename(sf_dir.rstrip("/"))
    paths = {
        "minhash": f"{_ORACLE_ARTIFACT_DIR}/minhash_shingles_{base}.parquet",
        "simhash": f"{_ORACLE_ARTIFACT_DIR}/simhash_tokens_{base}.parquet",
    }
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    for kind, (shingle_n, mod) in {
        "minhash": (3, _MERSENNE),  # minhash_lsh_pairs defaults
        "simhash": (2, None),  # simhash_near_dups defaults (raw signed h)
    }.items():
        ids: list[int] = []
        hs: list[int] = []
        for doc_id, text in docs:
            for h in hashed_shingles(text, shingle_n, mod):
                ids.append(doc_id)
                hs.append(h)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "h": pa.array(hs, pa.int64())}),
            paths[kind],
        )
    return paths


def _ensure_lpa_half_artifact(
    sf_dir: str = _GATE_SF_DIR, iters: int = 20
) -> str:
    """Materialize the per-(vertex, round) ACTIVITY BITS of label
    propagation's hashed halves — the one non-SQL-expressible step of a
    fixed-round LPA (``pmod(xxhash64(src, round), 2)``).  The chained
    multi-column xxhash64 (long then int, seed threading) is reproduced by
    the pure-Python twin (parity pinned in pytest), and the vertex set is
    computed by DuckDB itself from the same parquet the oracle reads.

    The artifact always carries 20 rounds of bits (the engine's default
    ``max_iter``); oracles that unroll fewer rounds join a prefix."""
    import os
    import struct

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parallel_louvain_method_spark.functions.pyhash import xxh64

    os.makedirs(_ORACLE_ARTIFACT_DIR, exist_ok=True)
    base = os.path.basename(sf_dir.rstrip("/"))
    path = f"{_ORACLE_ARTIFACT_DIR}/lpa_half_bits_{base}.parquet"
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    verts = [
        r[0]
        for r in con.execute(
            f"""SELECT DISTINCT v FROM (
                    SELECT src AS v FROM ({_CC_EDGES_SQL})
                    UNION SELECT dst AS v FROM ({_CC_EDGES_SQL})
                )"""
        ).fetchall()
    ]
    vs, its, bits = [], [], []
    for v in verts:
        h1 = xxh64(struct.pack("<q", int(v)), 42)
        for it in range(iters):
            h2 = xxh64(struct.pack("<i", it), h1 & ((1 << 64) - 1))
            vs.append(int(v))
            its.append(it)
            bits.append(h2 % 2 == 0)
    pq.write_table(
        pa.table(
            {
                "vtx": pa.array(vs, pa.int64()),
                "it": pa.array(its, pa.int32()),
                "active": pa.array(bits, pa.bool_()),
            }
        ),
        path,
    )
    return path


def _lpa_oracle_sql(path: str, iters: int = 2) -> str:
    """DuckDB twin of ``label_propagation(cc_edges, max_iter=iters)`` with
    the rounds unrolled (iters small enough that the engine's
    convergence-streak exit cannot fire, so fixed rounds ARE the
    semantics).  Activity bits come from the pyhash artifact; the argmax
    tie-break (highest weight, then lowest label) matches the engine's
    ``max_by(label, struct(w, -label))``.

    Every CTE is ``MATERIALIZED``: DuckDB inlines plain CTEs, and each
    round references the previous round's label table 2-3 times, so an
    unmaterialized 20-round unroll expands to ~2^20 base scans (observed
    as fd exhaustion before it even plans)."""
    parts = [
        f"""WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst, weight FROM (
                SELECT src, dst, weight FROM base
                UNION SELECT dst AS src, src AS dst, weight FROM base
            ) WHERE src <> dst
        ),
        bits AS MATERIALIZED (SELECT vtx, it, active FROM read_parquet('{path}')),
        a0 AS MATERIALIZED (
            SELECT v AS vtx, v AS label FROM (
                SELECT DISTINCT v FROM (
                    SELECT src AS v FROM base UNION SELECT dst AS v FROM base
                )
            )
        ),"""
    ]
    for it in range(iters):
        parts.append(f"""
        w{it} AS MATERIALIZED (
            SELECT e.src AS vtx, p.label, SUM(e.weight) AS w
            FROM sym e
            JOIN bits b ON b.vtx = e.src AND b.it = {it} AND b.active
            JOIN a{it} p ON p.vtx = e.dst
            GROUP BY 1, 2
        ),
        b{it} AS MATERIALIZED (
            SELECT vtx, label AS nl FROM (
                SELECT vtx, label,
                       ROW_NUMBER() OVER (
                           PARTITION BY vtx ORDER BY w DESC, label ASC
                       ) AS rn
                FROM w{it}
            ) WHERE rn = 1
        ),
        a{it + 1} AS MATERIALIZED (
            SELECT a.vtx, COALESCE(b.nl, a.label) AS label
            FROM a{it} a LEFT JOIN b{it} b ON b.vtx = a.vtx
        ),""")
    sql = "".join(parts)
    return sql.rstrip(",") + f"\n        SELECT vtx, label FROM a{iters}"


def _louvain_sweep1_oracle_sql() -> str:
    """DuckDB twin of ONE synchronous sql-engine Louvain sweep on the
    cc subgraph — the first gate-checkable slice of the core operator
    (previously Louvain was entirely rows-only).

    Why this is value-EXACT despite floats: the graph's weights are
    integral doubles, so degrees, community totals and m2 are exact in
    fp64 regardless of summation order; gain = w − tot·deg/m2 then rounds
    identically in both engines for identical integer inputs.  Semantics
    mirrored from ``_sql_sweep_loop`` sweep 0: singleton communities (the
    fast path — w(v→{dst}) is the edge weight, tot = dst's degree),
    gain_stay = 0 (tot_own − deg = 0, no self-loops in this bipartite
    graph), accept iff best_gain > 0 with ties to the lowest community,
    then the movers-only pointer-jump label collapse (a mover chasing a
    mover's new label one hop; mutual swaps map back to themselves)."""
    return f"""
        WITH base AS ({_CC_EDGES_SQL}),
        sym AS (
            SELECT src, dst, weight FROM (
                SELECT src, dst, weight FROM base
                UNION SELECT dst AS src, src AS dst, weight FROM base
            ) WHERE src <> dst
        ),
        deg AS (SELECT src AS vtx, SUM(weight) AS degree FROM sym GROUP BY 1),
        m2 AS (SELECT SUM(weight) AS m2 FROM sym),
        verts AS (SELECT vtx FROM deg),
        cand AS (
            SELECT e.src, e.dst AS dst_comm, e.weight AS w_to,
                   dd.degree AS tot, ds.degree AS deg_src
            FROM sym e
            JOIN deg dd ON dd.vtx = e.dst
            JOIN deg ds ON ds.vtx = e.src
        ),
        scored AS (
            SELECT src, dst_comm,
                   w_to - tot * deg_src / (SELECT m2 FROM m2) AS gain
            FROM cand
        ),
        best AS (
            SELECT src, dst_comm AS best_comm, gain AS best_gain FROM (
                SELECT src, dst_comm, gain,
                       ROW_NUMBER() OVER (
                           PARTITION BY src ORDER BY gain DESC, dst_comm ASC
                       ) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        proposals AS (
            SELECT src AS vtx, best_comm AS new_comm
            FROM best WHERE best_gain > 0
        ),
        mid AS (
            SELECT v.vtx,
                   COALESCE(p.new_comm, v.vtx) AS mid_comm,
                   p.new_comm IS NOT NULL AS moved
            FROM verts v LEFT JOIN proposals p ON p.vtx = v.vtx
        ),
        jump AS (
            SELECT vtx AS jkey, mid_comm AS jump_comm FROM mid WHERE moved
        )
        SELECT a.vtx,
               CASE WHEN a.moved THEN COALESCE(j.jump_comm, a.mid_comm)
                    ELSE a.mid_comm END AS comm
        FROM mid a LEFT JOIN jump j ON j.jkey = a.mid_comm
    """


def _louvain_coarsen_sweep_oracle_sql() -> str:
    """DuckDB twin of the fixed-shape MULTILEVEL slice: one sql-engine
    sweep (``_louvain_sweep1_oracle_sql``) → ``coarsen`` (dense
    prefix-sum community renumber, weight-summed community graph whose
    internal edges become self-loops at 2× internal weight,
    ``operators/louvain.py:coarsen`` ≙ src/community.cpp:162-201) → one
    more sql-engine sweep on the COARSE graph.  This gate-checks the
    coarsen algebra end-to-end: the renumber map, the self-loop weights
    (they enter degree and m2 but never the candidate set — the engine
    filters src<>dst), and the level-1 sweep's gain/argmax on a weighted
    graph with self-loops.

    Float-exactness carries over from the sweep-1 argument: coarse
    weights are sums of integral doubles (exact in any order), degrees
    and m2 are exact, and gain = w − tot·deg/m2 is the literally same
    IEEE expression in both engines.  Coarse sweep-0 specifics mirrored
    from ``_sql_sweep_loop``: singleton communities, so w(v→{c}) is the
    single coarse edge weight (coarsen output has unique pairs),
    tot({c}) = degree(c) INCLUDING its self-loop weight, gain_stay = 0
    (tot_own − deg = 0 even with self-loops), accept iff best_gain > 0
    with ties to the lowest community, then the movers-only pointer-jump
    collapse — identical to level 0."""
    return f"""
        WITH a1 AS ({_louvain_sweep1_oracle_sql()}),
        sym0 AS (
            SELECT src, dst, weight FROM (
                SELECT src, dst, weight FROM ({_CC_EDGES_SQL})
                UNION SELECT dst AS src, src AS dst, weight
                FROM ({_CC_EDGES_SQL})
            ) WHERE src <> dst
        ),
        cmap AS (
            SELECT comm, ROW_NUMBER() OVER (ORDER BY comm) - 1 AS new_comm
            FROM (SELECT DISTINCT comm FROM a1)
        ),
        a1m AS (
            SELECT a1.vtx, cmap.new_comm AS comm FROM a1 JOIN cmap USING (comm)
        ),
        coarse AS (
            SELECT ca.comm AS src, cb.comm AS dst, SUM(e.weight) AS weight
            FROM sym0 e
            JOIN a1m ca ON e.src = ca.vtx
            JOIN a1m cb ON e.dst = cb.vtx
            GROUP BY 1, 2
        ),
        deg2 AS (SELECT src AS vtx, SUM(weight) AS degree FROM coarse GROUP BY 1),
        m22 AS (SELECT SUM(weight) AS m2 FROM coarse),
        cand2 AS (
            SELECT e.src, e.dst AS dst_comm, e.weight AS w_to,
                   dd.degree AS tot, ds.degree AS deg_src
            FROM coarse e
            JOIN deg2 dd ON dd.vtx = e.dst
            JOIN deg2 ds ON ds.vtx = e.src
            WHERE e.src <> e.dst
        ),
        scored2 AS (
            SELECT src, dst_comm,
                   w_to - tot * deg_src / (SELECT m2 FROM m22) AS gain
            FROM cand2
        ),
        best2 AS (
            SELECT src, dst_comm AS best_comm, gain AS best_gain FROM (
                SELECT src, dst_comm, gain,
                       ROW_NUMBER() OVER (
                           PARTITION BY src ORDER BY gain DESC, dst_comm ASC
                       ) AS rn
                FROM scored2
            ) WHERE rn = 1
        ),
        proposals2 AS (
            SELECT src AS vtx, best_comm AS new_comm
            FROM best2 WHERE best_gain > 0
        ),
        mid2 AS (
            SELECT v.vtx,
                   COALESCE(p.new_comm, v.vtx) AS mid_comm,
                   p.new_comm IS NOT NULL AS moved
            FROM deg2 v LEFT JOIN proposals2 p ON p.vtx = v.vtx
        ),
        jump2 AS (
            SELECT vtx AS jkey, mid_comm AS jump_comm FROM mid2 WHERE moved
        ),
        a2 AS (
            SELECT a.vtx,
                   CASE WHEN a.moved THEN COALESCE(j.jump_comm, a.mid_comm)
                        ELSE a.mid_comm END AS comm
            FROM mid2 a LEFT JOIN jump2 j ON j.jkey = a.mid_comm
        )
        SELECT m.vtx, a2.comm
        FROM a1m m JOIN a2 ON a2.vtx = m.comm
    """


def _coreness_peel_oracle_sql(max_k: int, rounds: int) -> str:
    """DuckDB twin of ``coreness_peel(cc_edges, max_k, rounds)`` with
    every peel round unrolled (the ``kcore80_peel2`` pattern extended to
    the full fixed-schedule decomposition): stages k = 2..max_k of
    exactly ``rounds`` degree-filter rounds each, live edges carried
    ACROSS stages (the (k+1)-stage resumes from the k-stage's restricted
    edge set, exactly like the engine), vertices dropped during stage k
    reported as coreness k−1, survivors as max_k."""
    parts = [
        f"""
        WITH base AS ({_CC_EDGES_SQL}),
        sym AS (
            SELECT src, dst FROM (
                SELECT src, dst FROM base
                UNION SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        v0 AS (SELECT DISTINCT src AS v FROM sym),"""
    ]
    prev_live, prev_keep, idx = "sym", "v0", 0
    drops: list[tuple[int, str, str]] = []
    for k in range(2, max_k + 1):
        for _ in range(rounds):
            idx += 1
            parts.append(f"""
        d{idx} AS (SELECT src AS v, COUNT(*) AS d FROM {prev_live} GROUP BY 1),
        k{idx} AS (SELECT v FROM d{idx} WHERE d >= {k}),
        e{idx} AS (
            SELECT s.src, s.dst FROM {prev_live} s
            JOIN k{idx} a ON s.src = a.v JOIN k{idx} b ON s.dst = b.v
        ),""")
            prev_live = f"e{idx}"
        drops.append((k - 1, prev_keep, f"k{idx}"))
        prev_keep = f"k{idx}"
    sel = [
        f"""SELECT CAST(p.v AS BIGINT) AS vtx, CAST({c} AS BIGINT) AS coreness
        FROM {pk} p LEFT JOIN {kk} q ON p.v = q.v WHERE q.v IS NULL"""
        for c, pk, kk in drops
    ]
    sel.append(
        f"SELECT CAST(v AS BIGINT) AS vtx, CAST({max_k} AS BIGINT) AS coreness"
        f" FROM {prev_keep}"
    )
    return "".join(parts).rstrip(",") + "\n        " + "\n        UNION ALL ".join(sel)


def _wl_oracle_sql(rounds: int) -> str:
    """DuckDB twin of ``wl_colors(cc_edges, rounds).colors``
    (``operators/wl.py``): colors start as degree; each unrolled round
    builds the ASCII signature ``color ':' neighbor colors sorted
    numerically and comma-joined`` and relabels by ``DENSE_RANK() OVER
    (ORDER BY sig) - 1`` — memcmp on the pure-ASCII strings matches
    Spark's UTF-8 binary ordering exactly, so the ranks agree."""
    parts = [
        f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        wsym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        c0 AS MATERIALIZED (
            SELECT src AS vtx, COUNT(*) AS color FROM wsym GROUP BY 1
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        s{r} AS (
            SELECT e.src AS vtx,
                   CAST(c.color AS VARCHAR) || ':' ||
                   string_agg(
                       CAST(n.color AS VARCHAR), ',' ORDER BY n.color
                   ) AS sig
            FROM wsym e
            JOIN c{r - 1} c ON c.vtx = e.src
            JOIN c{r - 1} n ON n.vtx = e.dst
            GROUP BY e.src, c.color
        ),
        c{r} AS MATERIALIZED (
            SELECT vtx, DENSE_RANK() OVER (ORDER BY sig) - 1 AS color
            FROM s{r}
        )""")
    parts.append(
        f"""
        SELECT CAST(vtx AS BIGINT) AS vtx, CAST(color AS BIGINT) AS color
        FROM c{rounds}"""
    )
    return "".join(parts)


def _sssp_rounds_oracle_sql(sources: list[int], rounds: int) -> str:
    """DuckDB twin of ``shortest_paths_rounds(cc_edges, sources, rounds)``
    (``operators/paths.py``): each round is the min-merge of the state
    with one-step candidates over the simple symmetrized relation —
    identical double sums + MIN on both engines, so values are bit-exact."""
    seeds = "\n            UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS vtx, CAST({s} AS BIGINT) AS root,"
        f" CAST(0 AS DOUBLE) AS dist"
        for s in sources
    )
    sql = f"""
        WITH rel AS MATERIALIZED (
            SELECT src, dst, MIN(weight) AS w FROM (
                SELECT src, dst, weight FROM ({_CC_EDGES_SQL})
                UNION ALL
                SELECT dst AS src, src AS dst, weight FROM ({_CC_EDGES_SQL})
            ) WHERE src <> dst GROUP BY 1, 2
        ),
        s0 AS ({seeds})"""
    for i in range(rounds):
        sql += f""",
        s{i + 1} AS (
            SELECT vtx, root, MIN(dist) AS dist FROM (
                SELECT vtx, root, dist FROM s{i}
                UNION ALL
                SELECT rel.dst AS vtx, s.root AS root, s.dist + rel.w AS dist
                FROM rel JOIN s{i} s ON s.vtx = rel.src
            ) GROUP BY 1, 2
        )"""
    sql += (
        f"\n        SELECT CAST(vtx AS BIGINT) AS vtx,"
        f" CAST(root AS BIGINT) AS root, dist FROM s{rounds}"
    )
    return sql


_SCC_ORACLE_SQL = f"""
    WITH RECURSIVE d AS ({_DPREC_SQL}),
    verts AS (SELECT src AS v FROM d UNION SELECT dst AS v FROM d),
    reach(a, b) AS (
        SELECT v, v FROM verts
        UNION
        SELECT r.a, d.dst FROM reach r JOIN d ON r.b = d.src
    )
    SELECT CAST(r1.a AS BIGINT) AS vtx, CAST(MIN(r1.b) AS BIGINT) AS component
    FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
    GROUP BY 1
"""


# bow-tie census: full reachability closure + mutual-reach SCCs, giant =
# (max size, min label), regions by the same precedence as the operator
_BOWTIE_ORACLE_SQL = f"""
    WITH RECURSIVE d AS ({_WEB_SQL}),
    verts AS (
        -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB 1.0 applies
        -- recursive setop semantics and a plain UNION keeps duplicates
        SELECT DISTINCT v FROM (
            SELECT src AS v FROM d UNION ALL SELECT dst AS v FROM d
        )
    ),
    reach(a, b) AS (
        SELECT v, v FROM verts
        UNION
        SELECT r.a, d.dst FROM reach r JOIN d ON r.b = d.src
    ),
    scc AS (
        SELECT r1.a AS vtx, MIN(r1.b) AS component
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY 1
    ),
    giant AS (
        SELECT component FROM scc GROUP BY component
        ORDER BY COUNT(*) DESC, component ASC LIMIT 1
    ),
    core AS (
        SELECT vtx AS v FROM scc
        WHERE component = (SELECT component FROM giant)
    ),
    fwd AS (SELECT DISTINCT r.b AS v FROM reach r JOIN core c ON r.a = c.v),
    bwd AS (SELECT DISTINCT r.a AS v FROM reach r JOIN core c ON r.b = c.v),
    inset AS (SELECT v FROM bwd WHERE v NOT IN (SELECT v FROM core)),
    outset AS (SELECT v FROM fwd WHERE v NOT IN (SELECT v FROM core)),
    f_in AS (
        SELECT DISTINCT r.b AS v FROM reach r JOIN inset i ON r.a = i.v
    ),
    t_out AS (
        SELECT DISTINCT r.a AS v FROM reach r JOIN outset o ON r.b = o.v
    )
    SELECT CAST(verts.v AS BIGINT) AS vtx,
           CASE WHEN verts.v IN (SELECT v FROM core) THEN 'CORE'
                WHEN verts.v IN (SELECT v FROM inset) THEN 'IN'
                WHEN verts.v IN (SELECT v FROM outset) THEN 'OUT'
                WHEN verts.v IN (SELECT v FROM f_in)
                     AND verts.v IN (SELECT v FROM t_out) THEN 'TUBE'
                WHEN verts.v IN (SELECT v FROM f_in) THEN 'TENDRIL_IN'
                WHEN verts.v IN (SELECT v FROM t_out) THEN 'TENDRIL_OUT'
                ELSE 'DISCONNECTED' END AS region
    FROM verts
"""


# longest-path levels of the condensation DAG: enumerate every path of
# the (finite, acyclic) contracted graph, keep the max length per vertex
_TOPO_LEVELS_ORACLE_SQL = f"""
    WITH RECURSIVE d AS ({_DPREC_SQL}),
    verts AS (SELECT src AS v FROM d UNION SELECT dst AS v FROM d),
    reach(a, b) AS (
        SELECT v, v FROM verts
        UNION
        SELECT r.a, d.dst FROM reach r JOIN d ON r.b = d.src
    ),
    scc AS (
        SELECT r1.a AS vtx, MIN(r1.b) AS component
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY 1
    ),
    cond AS (
        SELECT DISTINCT a.component AS src, b.component AS dst
        FROM d JOIN scc a ON a.vtx = d.src JOIN scc b ON b.vtx = d.dst
        WHERE a.component <> b.component
    ),
    cverts AS (SELECT src AS v FROM cond UNION SELECT dst AS v FROM cond),
    p(v, len) AS (
        SELECT v, 0 FROM cverts
        UNION
        SELECT cond.dst, p.len + 1 FROM p JOIN cond ON cond.src = p.v
    )
    SELECT CAST(v AS BIGINT) AS vtx, CAST(MAX(len) AS BIGINT) AS level
    FROM p GROUP BY 1
"""


# condensation DAG: the SCC closure projected onto cross-component edges
_CONDENSATION_ORACLE_SQL = f"""
    WITH RECURSIVE d AS ({_DPREC_SQL}),
    verts AS (SELECT src AS v FROM d UNION SELECT dst AS v FROM d),
    reach(a, b) AS (
        SELECT v, v FROM verts
        UNION
        SELECT r.a, d.dst FROM reach r JOIN d ON r.b = d.src
    ),
    scc AS (
        SELECT r1.a AS vtx, MIN(r1.b) AS component
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY 1
    )
    SELECT DISTINCT CAST(a.component AS BIGINT) AS src,
                    CAST(b.component AS BIGINT) AS dst
    FROM d JOIN scc a ON a.vtx = d.src JOIN scc b ON b.vtx = d.dst
    WHERE a.component <> b.component
"""


def _betweenness_oracle_sql(sources: list[int], hops: int) -> str:
    """DuckDB twin of ``betweenness_centrality(cc_edges, sources,
    max_hops=hops)`` (``operators/betweenness.py``): the forward
    path-counting BFS unrolls one join + anti-join per hop (sigma sums
    are integer-valued doubles — exact either engine), the backward
    dependency recursion unrolls one depth per CTE deepest-first with
    the identical ``sv/sw * (1 + delta)`` IEEE algebra."""
    seeds = "\n            UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS vtx, CAST({s} AS BIGINT) AS root,"
        f" 0 AS dist, CAST(1 AS DOUBLE) AS sigma"
        for s in sources
    )
    sql = f"""
        WITH rel AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM ({_CC_EDGES_SQL})
                UNION ALL
                SELECT dst AS src, src AS dst FROM ({_CC_EDGES_SQL})
            ) WHERE src <> dst
        ),
        s0 AS ({seeds})"""
    for d in range(hops):
        sql += f""",
        n{d + 1} AS (
            SELECT rel.dst AS vtx, f.root, SUM(f.sigma) AS sigma
            FROM rel JOIN s{d} f ON f.vtx = rel.src AND f.dist = {d}
            GROUP BY 1, 2
        ),
        s{d + 1} AS (
            SELECT * FROM s{d}
            UNION ALL
            SELECT n.vtx, n.root, {d + 1} AS dist, n.sigma FROM n{d + 1} n
            WHERE NOT EXISTS (
                SELECT 1 FROM s{d} p
                WHERE p.vtx = n.vtx AND p.root = n.root
            )
        )"""
    sql += f""",
        ps AS MATERIALIZED (
            SELECT v.vtx AS v, v.root AS root, v.dist AS dv, v.sigma AS sv,
                   w.vtx AS w, w.sigma AS sw
            FROM rel e
            JOIN s{hops} v ON v.vtx = e.src
            JOIN s{hops} w ON w.vtx = e.dst AND w.root = v.root
                          AND w.dist = v.dist + 1
        ),
        d{hops} AS (
            SELECT vtx, root, CAST(0 AS DOUBLE) AS delta
            FROM s{hops} WHERE FALSE
        )"""
    for d in range(hops - 1, -1, -1):
        sql += f""",
        d{d} AS (
            SELECT ps.v AS vtx, ps.root,
                   SUM(ps.sv / ps.sw * (1 + COALESCE(n.delta, 0))) AS delta
            FROM ps LEFT JOIN d{d + 1} n
              ON n.vtx = ps.w AND n.root = ps.root
            WHERE ps.dv = {d}
            GROUP BY 1, 2
        )"""
    alld = "\n            UNION ALL ".join(
        f"SELECT vtx, delta FROM d{d} WHERE vtx <> root"
        for d in range(hops)
    )
    sql += f""",
        alld AS ({alld}),
        verts AS (SELECT src AS v FROM rel UNION SELECT dst AS v FROM rel)
        SELECT CAST(verts.v AS BIGINT) AS vtx,
               CAST(COALESCE(SUM(a.delta), 0) AS DOUBLE) AS btw
        FROM verts LEFT JOIN alld a ON a.vtx = verts.v
        GROUP BY 1"""
    return sql


def _user_sessions_oracle_sql(gap_seconds: int) -> str:
    """Gaps-and-islands DuckDB twin of ``user_sessions_batch`` (the
    ``session_window`` operator, ``streaming/events.py:164``).  Boundary
    semantics pinned empirically against Spark: an event at EXACTLY
    last_ts + gap still merges (session windows [start, last+gap] touch),
    so a new session starts strictly when ts > prev_ts + gap.  Timestamps
    emit as fixed-width micro-second strings in both engines (the events
    ``ts`` is TIMESTAMP_NTZ — wall-clock identical on both sides); the
    order-sensitive double sum is rounded like the other float gates."""
    return f"""
        WITH lagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts > LAG(ts) OVER w
                                     + INTERVAL {gap_seconds} SECONDS
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS sid
            FROM lagged
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS total_value
        FROM sess GROUP BY user_id, sid
    """


def _minhash_oracle_sql(
    path: str,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.3,
) -> str:
    """DuckDB twin of ``minhash_lsh_pairs`` downstream of the hash seam.

    Same SplitMix64 permutation constants (embedded as literals), same
    min-aggregation signatures, band membership by TUPLE equality (Spark
    buckets on xxhash64 of the tuple — same grouping, modulo 64-bit hash
    collisions that the est_jaccard verify filters out anyway), same
    unbiased-estimator verification.  The ``max_bucket`` cap (1000) cannot
    trigger on the 500-doc gate slice, so the oracle omits it."""
    from parallel_louvain_method_spark.operators.dedup import (
        _MERSENNE,
        minhash_permutation_constants,
    )

    rows_per_band = n_hashes // bands
    consts = minhash_permutation_constants(n_hashes)
    mins = ",\n                   ".join(
        f"MIN((h * {a} + {b}) % {_MERSENNE}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {keys} FROM sig".format(
            b=b,
            keys=", ".join(
                f"m{b * rows_per_band + r} AS k{r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    key_eq = " AND ".join(f"x.k{r} = y.k{r}" for r in range(rows_per_band))
    eq_sum = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    return f"""
        WITH sh AS (SELECT doc_id, h FROM read_parquet('{path}')),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM sh GROUP BY doc_id
        ),
        banded AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM banded x JOIN banded y
              ON x.band = y.band AND {key_eq} AND x.doc_id < y.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               ({eq_sum}) / {float(n_hashes)} AS est_jaccard
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b
        WHERE ({eq_sum}) / {float(n_hashes)} >= {threshold}
    """


def _simhash_oracle_sql(path: str, max_hamming: int = 7) -> str:
    """DuckDB twin of ``simhash_near_dups`` downstream of the hash seam.

    Works in the per-bit domain so the packed 64-bit signature (whose bit
    63 needs unsigned shifts) never materializes: bit b is the sign of the
    ±1 token sum, chunk keys re-pack each pigeonhole window's bits, and
    Hamming distance is the count of differing bits.  Arithmetic-shift
    parity (``(h >> b) & 1`` on negative BIGINTs) between DuckDB and the
    JVM is exercised by the gate itself."""
    n_chunks = max_hamming + 1
    base_w = 64 // n_chunks
    extra = 64 % n_chunks
    widths = [base_w + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    bits = ",\n                   ".join(
        f"CASE WHEN SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN 1 ELSE 0 END AS b{b}"
        for b in range(64)
    )
    chunk_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {c} AS chunk_no, ({key}) AS chunk FROM bits".format(
            c=c,
            key=" + ".join(
                f"b{offsets[c] + j} * {1 << j}" for j in range(widths[c])
            ),
        )
        for c in range(n_chunks)
    )
    ham = " + ".join(
        f"(CASE WHEN a.b{b} <> b.b{b} THEN 1 ELSE 0 END)" for b in range(64)
    )
    return f"""
        WITH toks AS (SELECT doc_id, h FROM read_parquet('{path}')),
        bits AS (
            SELECT doc_id,
                   {bits}
            FROM toks GROUP BY doc_id
        ),
        chunks AS (
            {chunk_selects}
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM chunks x JOIN chunks y
              ON x.chunk_no = y.chunk_no AND x.chunk = y.chunk
             AND x.doc_id < y.doc_id
        )
        SELECT c.doc_a, c.doc_b, CAST(({ham}) AS INT) AS hamming
        FROM cand c
        JOIN bits a ON a.doc_id = c.doc_a
        JOIN bits b ON b.doc_id = c.doc_b
        WHERE ({ham}) <= {max_hamming}
    """


def _ivf_oracle_sql(
    n_centroids: int = 8, n_probe: int = 2, iters: int = 2, k: int = 1
) -> str:
    """DuckDB twin of ``ivf_knn`` with the fixed Lloyd iterations unrolled
    (the fixed-k PageRank oracle trick).  Deterministic init (lowest ids),
    9-dp-snapped centroids after every normalize make the two engines'
    centroid tables digit-identical despite their different float
    summation orders; ranks (not cosines) are compared, as in the other
    kNN gates."""
    rnorm = "list_transform({l}, x -> round(x / sqrt(list_dot_product({l}, {l})), 9))"
    parts = [
        """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
            FROM embeddings WHERE vec_id < 200
        ),
        b AS (
            SELECT vec_id AS id,
                   list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS v
            FROM e
        ),
        c0 AS (
            SELECT id AS cid, """ + rnorm.format(l="v") + f"""
                   AS cv
            FROM b ORDER BY id LIMIT {n_centroids}
        ),"""
    ]
    for i in range(iters):
        parts.append(f"""
        a{i} AS (
            SELECT id, cid FROM (
                SELECT b.id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY b.id
                           ORDER BY list_dot_product(b.v, c.cv) DESC, c.cid ASC
                       ) AS rn
                FROM b CROSS JOIN c{i} c
            ) WHERE rn = 1
        ),
        m{i} AS (
            SELECT a.cid, t.pos, AVG(b.v[t.pos]) AS m
            FROM a{i} a JOIN b ON a.id = b.id,
                 UNNEST(range(1, len(b.v) + 1)) AS t(pos)
            GROUP BY a.cid, t.pos
        ),
        c{i + 1} AS (
            SELECT cid, """ + rnorm.format(l="mv") + """ AS cv
            FROM (SELECT cid, list(m ORDER BY pos) AS mv FROM m""" + str(i) + """ GROUP BY cid)
        ),""")
    cf = f"c{iters}"
    parts.append(f"""
        af AS (
            SELECT id, cid FROM (
                SELECT b.id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY b.id
                           ORDER BY list_dot_product(b.v, c.cv) DESC, c.cid ASC
                       ) AS rn
                FROM b CROSS JOIN {cf} c
            ) WHERE rn = 1
        ),
        p AS (
            SELECT query_id, cid FROM (
                SELECT b.id AS query_id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY b.id
                           ORDER BY list_dot_product(b.v, c.cv) DESC, c.cid ASC
                       ) AS rn
                FROM b CROSS JOIN {cf} c
            ) WHERE rn <= {n_probe}
        ),
        cand AS (
            SELECT p.query_id, a.id AS neighbor_id
            FROM p JOIN af a ON a.cid = p.cid
            WHERE a.id <> p.query_id
        ),
        ranked AS (
            SELECT c.query_id, c.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.query_id
                       ORDER BY list_dot_product(qb.v, nb.v) DESC,
                                c.neighbor_id ASC
                   ) AS rank
            FROM cand c
            JOIN b qb ON qb.id = c.query_id
            JOIN b nb ON nb.id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}""")
    return "".join(parts)


def _knn_lsh_axis_sql(
    n_planes: int = 4, n_tables: int = 8, dim: int = 64, k: int = 1
) -> str:
    """DuckDB twin of ``knn_lsh(..., planes="axis")`` (r1/r2 next-step:
    give the LSH kNN a real oracle).  Axis-aligned planes make the bucket
    computation pure SQL: bit ``j`` of table ``t`` is the sign of raw
    coordinate ``(t*n_planes + j) % dim``.  Same union-of-tables candidate
    generation, same exact cosine re-rank, same (desc cosine, asc neighbor)
    tie-break.  The Spark side's ``max_bucket`` hot-bucket cap (10k) cannot
    trigger on the 200-vector gate slice, so the oracle omits it."""
    tables = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN embedding[{(t * n_planes + j) % dim + 1}] > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )
        tables.append(f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM e")
    buckets = "\n        UNION ALL ".join(tables)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 200
        ),
        b AS (
            {buckets}
        ),
        cand AS (
            SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
            FROM b x JOIN b y
              ON x.tbl = y.tbl AND x.bucket = y.bucket
             AND x.vec_id <> y.vec_id
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id,
                   list_dot_product(ea.v, eb.v)
                   / (SQRT(list_dot_product(ea.v, ea.v))
                      * SQRT(list_dot_product(eb.v, eb.v))) AS cos
            FROM cand c
            JOIN e ea ON c.query_id = ea.vec_id
            JOIN e eb ON c.neighbor_id = eb.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC
                   ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _adamic_adar_oracle_sql(max_degree: int = 64, min_common: int = 2) -> str:
    """DuckDB twin of ``adamic_adar(cc_edges, max_degree, min_common)``:
    wedge enumeration through capped centers, 1/LN(deg) weights (LN, not
    DuckDB's log10 LOG), anti-join against existing edges; the float sum
    is rounded to 9 dp on both sides."""
    return f"""
        WITH base AS ({_CC_EDGES_SQL}),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        deg AS (SELECT src AS w, COUNT(*) AS deg FROM sym GROUP BY 1),
        nbrs AS (
            SELECT s.src AS w, s.dst AS u, d.deg
            FROM sym s JOIN deg d ON d.w = s.src
            WHERE d.deg >= 2 AND d.deg <= {max_degree}
        ),
        wedge AS (
            SELECT a.u AS src, b.u AS dst,
                   1.0 / LN(a.deg) AS aa_w, 1.0 / a.deg AS ra_w
            FROM nbrs a JOIN nbrs b ON a.w = b.w AND a.u < b.u
        ),
        pairs AS (
            SELECT src, dst, COUNT(*) AS n_common,
                   SUM(aa_w) AS aa, SUM(ra_w) AS ra
            FROM wedge GROUP BY 1, 2
        ),
        existing AS (SELECT src, dst FROM sym WHERE src < dst)
        SELECT p.src, p.dst, p.n_common,
               ROUND(CAST(p.n_common AS DOUBLE)
                     / (du.deg + dv.deg - p.n_common), 9) AS jaccard,
               ROUND(p.aa, 9) AS adamic_adar,
               ROUND(p.ra, 9) AS resource_alloc
        FROM pairs p
        JOIN deg du ON du.w = p.src
        JOIN deg dv ON dv.w = p.dst
        LEFT JOIN existing e ON p.src = e.src AND p.dst = e.dst
        WHERE e.src IS NULL AND p.n_common >= {min_common}
    """


def _unrolled_ppr_sql(
    k: int = 3, damping: float = 0.85, seed_below: int = 100
) -> str:
    """Fixed-k PERSONALIZED PageRank oracle: teleport distribution p is
    uniform over the seed set ``vtx < seed_below`` and zero elsewhere;
    iteration starts from p (no danglings: symmetric graph, so the
    dangling-mass term is exactly 0.0 on both sides)."""
    parts = [
        f"WITH e AS ({_SYM_SQL}),",
        "ow AS (SELECT src AS vtx, SUM(weight) AS w FROM e GROUP BY 1),",
        "v AS (SELECT DISTINCT src AS vtx FROM e),",
        f"sc AS (SELECT COUNT(*) AS c FROM v WHERE vtx < {seed_below}),",
        f"""sp AS (
          SELECT v.vtx,
                 CASE WHEN v.vtx < {seed_below} THEN 1.0 / sc.c
                      ELSE 0.0 END AS p
          FROM v CROSS JOIN sc
        ),""",
        "r0 AS (SELECT vtx, p AS rank FROM sp),",
    ]
    for i in range(k):
        parts.append(
            f"""r{i + 1} AS (
              SELECT sp.vtx,
                     (1.0 - {damping}) * sp.p + {damping} * COALESCE(s.in_sum, 0.0) AS rank
              FROM sp
              LEFT JOIN (
                SELECT e.dst AS vtx, SUM(e.weight / ow.w * r{i}.rank) AS in_sum
                FROM e JOIN ow ON e.src = ow.vtx JOIN r{i} ON e.src = r{i}.vtx
                GROUP BY 1
              ) s ON sp.vtx = s.vtx
            ),"""
        )
    parts[-1] = parts[-1].rstrip(",\n )") + ")"
    parts.append(f"SELECT vtx, ROUND(rank, 8) AS rank FROM r{k}")
    return "\n".join(parts)


def _unrolled_pagerank_sql(k: int = 3, damping: float = 0.85) -> str:
    """Generated fixed-k PageRank oracle (no danglings: symmetric graph)."""
    parts = [
        f"WITH e AS ({_SYM_SQL}),",
        "ow AS (SELECT src AS vtx, SUM(weight) AS w FROM e GROUP BY 1),",
        "v AS (SELECT DISTINCT src AS vtx FROM e),",
        "nn AS (SELECT COUNT(*) AS c FROM v),",
        "r0 AS (SELECT v.vtx, 1.0 / nn.c AS rank FROM v CROSS JOIN nn),",
    ]
    for i in range(k):
        parts.append(
            f"""r{i + 1} AS (
              SELECT v.vtx,
                     (1.0 - {damping}) / nn.c + {damping} * COALESCE(s.in_sum, 0.0) AS rank
              FROM v CROSS JOIN nn
              LEFT JOIN (
                SELECT e.dst AS vtx, SUM(e.weight / ow.w * r{i}.rank) AS in_sum
                FROM e JOIN ow ON e.src = ow.vtx JOIN r{i} ON e.src = r{i}.vtx
                GROUP BY 1
              ) s ON v.vtx = s.vtx
            ),"""
        )
    parts[-1] = parts[-1].rstrip(",\n )") + ")"
    parts.append(f"SELECT vtx, ROUND(rank, 8) AS rank FROM r{k}")
    return "\n".join(parts)


def _unrolled_eigen_sql(k: int = 2) -> str:
    """Fixed-k L1-normalized power iteration (eigenvector centrality) on
    the symmetrized part-pair graph — twin of ``eigenvector_centrality``
    (operators/spectral.py) with ``tol=None``."""
    parts = [
        f"WITH base AS MATERIALIZED ({_PART_PAIRS_SQL}),",
        """sym AS MATERIALIZED (
            SELECT DISTINCT src, dst, weight FROM (
                SELECT src, dst, weight FROM base
                UNION ALL SELECT dst AS src, src AS dst, weight FROM base
            )
        ),""",
        "v AS (SELECT DISTINCT src AS vtx FROM sym),",
        "nn AS (SELECT COUNT(*) AS c FROM v),",
        "x0 AS (SELECT vtx, 1.0 / nn.c AS score FROM v CROSS JOIN nn),",
    ]
    for i in range(k):
        parts.append(
            f"""r{i + 1} AS (
              SELECT e.dst AS vtx, SUM(e.weight * x.score) AS raw
              FROM sym e JOIN x{i} x ON e.src = x.vtx GROUP BY 1
            ),
            s{i + 1} AS (SELECT SUM(raw) AS s FROM r{i + 1}),
            x{i + 1} AS (
              SELECT vtx, raw / s{i + 1}.s AS score
              FROM r{i + 1} CROSS JOIN s{i + 1}
            ),"""
        )
    parts[-1] = parts[-1].rstrip(",\n )") + ")"
    parts.append(f"SELECT vtx, ROUND(score, 8) AS score FROM x{k}")
    return "\n".join(parts)


def _unrolled_katz_sql(k: int = 3, beta: float = 0.05) -> str:
    """Fixed-k truncated Katz series on the symmetrized part-pair graph —
    twin of ``katz_centrality`` (operators/spectral.py) with ``tol=None``:
    walk term ``c_i = β·A·c_{i-1}`` (sparse, zero-filled into the
    accumulator exactly like the Spark left join)."""
    parts = [
        f"WITH base AS MATERIALIZED ({_PART_PAIRS_SQL}),",
        """sym AS MATERIALIZED (
            SELECT DISTINCT src, dst, weight FROM (
                SELECT src, dst, weight FROM base
                UNION ALL SELECT dst AS src, src AS dst, weight FROM base
            )
        ),""",
        "v AS (SELECT DISTINCT src AS vtx FROM sym),",
        "c0 AS (SELECT vtx, 1.0 AS c FROM v),",
        "a0 AS (SELECT vtx, 0.0 AS katz FROM v),",
    ]
    for i in range(k):
        parts.append(
            f"""c{i + 1} AS (
              SELECT e.dst AS vtx, {beta} * SUM(e.weight * c.c) AS c
              FROM sym e JOIN c{i} c ON e.src = c.vtx GROUP BY 1
            ),
            a{i + 1} AS (
              SELECT a.vtx, a.katz + COALESCE(c{i + 1}.c, 0.0) AS katz
              FROM a{i} a LEFT JOIN c{i + 1} ON c{i + 1}.vtx = a.vtx
            ),"""
        )
    parts[-1] = parts[-1].rstrip(",\n )") + ")"
    parts.append(f"SELECT vtx, ROUND(katz, 8) AS katz FROM a{k}")
    return "\n".join(parts)


def _unrolled_hits_sql(k: int = 2) -> str:
    """Fixed-k HITS (Kleinberg order: authority from hub, then hub from
    the NEW authority; L1 normalization, zero-fill for vertices without
    the relevant edge side) on the directed cc edge table — twin of
    ``hits`` (operators/spectral.py) with ``tol=None``."""
    parts = [
        f"WITH e AS MATERIALIZED ({_CC_EDGES_SQL}),",
        """v AS (SELECT DISTINCT vtx FROM (
            SELECT src AS vtx FROM e UNION ALL SELECT dst AS vtx FROM e
        )),""",
        "nn AS (SELECT COUNT(*) AS c FROM v),",
        "h0 AS (SELECT vtx, 1.0 / nn.c AS sc FROM v CROSS JOIN nn),",
    ]
    for i in range(k):
        # authority half-step from hub i, then hub half-step from the
        # NEW authority — exactly spectral.hits' update order
        parts.append(
            f"""a{i + 1}r AS (
              SELECT e.dst AS vtx, SUM(e.weight * h.sc) AS raw
              FROM e JOIN h{i} h ON e.src = h.vtx GROUP BY 1
            ),
            a{i + 1}s AS (SELECT SUM(raw) AS s FROM a{i + 1}r),
            a{i + 1} AS (
              SELECT v.vtx,
                     CASE WHEN t.s > 0 THEN COALESCE(r.raw, 0.0) / t.s
                          ELSE 0.0 END AS sc
              FROM v CROSS JOIN a{i + 1}s t
              LEFT JOIN a{i + 1}r r ON r.vtx = v.vtx
            ),
            h{i + 1}r AS (
              SELECT e.src AS vtx, SUM(e.weight * a.sc) AS raw
              FROM e JOIN a{i + 1} a ON e.dst = a.vtx GROUP BY 1
            ),
            h{i + 1}s AS (SELECT SUM(raw) AS s FROM h{i + 1}r),
            h{i + 1} AS (
              SELECT v.vtx,
                     CASE WHEN t.s > 0 THEN COALESCE(r.raw, 0.0) / t.s
                          ELSE 0.0 END AS sc
              FROM v CROSS JOIN h{i + 1}s t
              LEFT JOIN h{i + 1}r r ON r.vtx = v.vtx
            ),"""
        )
    parts[-1] = parts[-1].rstrip(",\n )") + ")"
    parts.append(
        f"""SELECT h{k}.vtx, ROUND(h{k}.sc, 8) AS hub,
                   ROUND(a{k}.sc, 8) AS authority
            FROM h{k} JOIN a{k} ON a{k}.vtx = h{k}.vtx"""
    )
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: shared-content edges over documents → Louvain communities."""
    sf_dir = "/root/testdata/sf0.001"
    corpus = _doc_key_corpus(spark, sf_dir)
    str_edges, _dropped = shared_content_edges(
        corpus, node_col="source", content_col="content_key"
    )
    from parallel_louvain_method_spark.sources.corpus import densify

    edges, mapping = densify(str_edges)
    res = louvain(spark, edges)
    return (
        res.assignment.join(mapping.withColumnRenamed("new_id", "vtx"), "vtx")
        .select(F.col("name").alias("source"), F.col("comm").alias("community"))
        .orderBy("source")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- edge-table operators (SURVEY.md §2.2/§2.4) ---
    q["edge_build"] = lambda s, d: _edges(s, d)
    # S3: the reference's declared-but-never-built Graph500 RMAT source
    # (main_distributed_bfs.cpp:74-80), realized as a shuffle-free
    # integer-hash generator; sf_dir unused by construction (synthetic).
    # Gate shape: raw stream + canonical cleanup so the hash pins both
    # the generator algebra AND the P1-P4 pipeline over it.
    q["rmat_s10"] = lambda s, d: _KR.kronecker_edges(
        s, scale=10, edgefactor=8, seed=42, permute=True
    )
    q["symmetrize_dedup"] = lambda s, d: G.symmetric_edges(_edges(s, d))
    q["canonical_edges"] = lambda s, d: G.canonical_edges(
        G.symmetric_edges(_edges(s, d))
    )
    q["weighted_degree"] = lambda s, d: G.degrees(G.symmetric_edges(_edges(s, d)))
    # maintained-aggregate twin: degrees of a 3/4 slice merged with the
    # remaining 1/4 batch; oracle = full-table degrees
    q["incremental_degrees"] = lambda s, d: (
        lambda sym: G.incremental_degrees(
            G.degrees(sym.filter(F.pmod(F.col("dst"), F.lit(4)) != 0)),
            sym.filter(F.pmod(F.col("dst"), F.lit(4)) == 0),
        )
    )(G.symmetric_edges(_edges(s, d)))
    q["max_vertex_id"] = lambda s, d: _edges(s, d).agg(
        F.max(F.greatest("src", "dst")).alias("max_id")
    )
    q["dense_renumber"] = lambda s, d: G.dense_ids(G.vertex_ids(_edges(s, d)))[0]

    # --- joins / graph algorithms ---
    q["triangle_count"] = lambda s, d: s.createDataFrame(
        [(triangle_count(_part_pairs(s, d)),)], "n_triangles long"
    )
    # path/star graphlet census (wedges, claws, 3-paths closed-form over
    # degrees + the gated triangle join)
    q["graphlet_census"] = lambda s, d: graphlet_counts(_part_pairs(s, d))
    # Barrat weighted clustering over the weighted co-commit user graph
    q["weighted_clustering_users"] = lambda s, d: (
        weighted_clustering_coefficient(
            q["cocommit_users"](s, d).select(
                F.col("user_a").alias("src"),
                F.col("user_b").alias("dst"),
                "weight",
            )
        )
    )
    # incremental twin: T(3/4 slice) + created-triangle delta of the 1/4
    # batch (operators/triangles.py incremental_triangle_delta) must land
    # on the same full-graph count the oracle computes from scratch
    q["incremental_triangles"] = lambda s, d: (
        lambda g: s.createDataFrame(
            [(
                triangle_count(
                    g.filter(F.pmod(F.col("src") + F.col("dst"), F.lit(4)) != 0)
                )
                + incremental_triangle_delta(
                    g.filter(
                        F.pmod(F.col("src") + F.col("dst"), F.lit(4)) != 0
                    ),
                    g.filter(
                        F.pmod(F.col("src") + F.col("dst"), F.lit(4)) == 0
                    ),
                ),
            )],
            "n_triangles long",
        )
    )(_part_pairs(s, d))
    # K4 motif count over the same graph (operators/triangles.py
    # clique4_count_df): Spark counts via degree-ordered orientation, the
    # oracle via id-ordered 6-edge closure — a hash match cross-validates
    # the orientation argument (each K4 counted exactly once) end-to-end
    def _clique4(s, d):
        from parallel_louvain_method_spark.operators.triangles import (
            clique4_count_df,
        )

        return clique4_count_df(_part_pairs(s, d))

    q["clique4_count"] = _clique4
    q["pagerank_k3"] = lambda s, d: pagerank(
        G.symmetric_edges(_edges(s, d)), damping=0.85, max_iter=3, tol=None
    ).select("vtx", F.round("rank", 8).alias("rank"))

    # personalized PageRank: uniform teleport over the seed set vtx < 100
    # (the low custkeys), zero elsewhere — exercises the reset path of the
    # DataFrame engine (ids here are sparse, so the barrier engine's
    # dense gate routes around itself; barrier-engine parity is pinned
    # in pytest)
    def _ppr_k3(s, d):
        sym = G.symmetric_edges(_edges(s, d))
        seeds = G.vertex_ids(sym).filter(F.col("v") < 100)
        sc_ = seeds.count()
        reset = seeds.select(
            F.col("v").alias("vtx"), F.lit(1.0 / sc_).alias("p")
        )
        return pagerank(
            sym, damping=0.85, max_iter=3, tol=None, reset=reset
        ).select("vtx", F.round("rank", 8).alias("rank"))

    q["ppr_k3_seed"] = _ppr_k3

    # link prediction on the cc subgraph: 2-hop pairs through centers of
    # degree <= 64 (max observed degree is 85, so the hub cap path does
    # real work), Adamic-Adar weighted, existing edges excluded
    def _adamic_adar_cc(s, d):
        from parallel_louvain_method_spark.operators.linkpred import (
            adamic_adar,
        )

        pairs, _dropped = adamic_adar(
            _cc_edges(s, d), max_degree=64, min_common=2
        )
        return pairs.select(
            "src", "dst", "n_common",
            F.round("jaccard", 9).alias("jaccard"),
            F.round("adamic_adar", 9).alias("adamic_adar"),
            F.round("resource_alloc", 9).alias("resource_alloc"),
        )

    q["adamic_adar_cc"] = _adamic_adar_cc
    q["connected_components"] = lambda s, d: connected_components(
        _cc_edges(s, d)
    ).select("vtx", "component")
    # incremental CC: labels for a 2/3 edge slice maintained through a
    # quotient-contraction merge of the remaining 1/3 batch; the oracle is
    # the FULL-graph recursive CTE, so the hash match certifies
    # incremental label maintenance == from-scratch components
    # information-theoretic partition quality: two-level map-equation
    # codelength of the vtx%8 blocking (operators/metrics.py map_equation)
    q["map_equation_mod8"] = lambda s, d: map_equation(
        _edges(s, d),
        G.vertex_ids(_edges(s, d)).select(
            F.col("v").alias("vtx"), F.pmod(F.col("v"), F.lit(8)).alias("comm")
        ),
    )
    # categorical mixing: Newman label assortativity under the vtx%5
    # coloring of the part-pair graph
    q["label_assort_mod5"] = lambda s, d: label_assortativity(
        _part_pairs(s, d),
        G.vertex_ids(_part_pairs(s, d)).select(
            F.col("v").alias("vtx"),
            F.pmod(F.col("v"), F.lit(5)).cast("string").alias("label"),
        ),
    )
    q["incremental_cc"] = lambda s, d: (
        lambda all_e: incremental_components(
            connected_components(
                all_e.filter(F.pmod(F.col("src") + F.col("dst"), F.lit(3)) != 0)
            ),
            all_e.filter(F.pmod(F.col("src") + F.col("dst"), F.lit(3)) == 0),
        ).select("vtx", "component")
    )(_cc_edges(s, d))
    # fixed-round peel twin of kcore() (same pattern as pagerank_k3):
    # k=80 on the part-pair graph cascades 2000 -> 1903 -> 1878 -> 1865 at
    # sf0.01, so both oracled rounds do real work
    q["kcore80_peel2"] = lambda s, d: kcore_peel(_part_pairs(s, d), k=80, rounds=2)
    # s-core (weighted k-core) fixed-round twin on the WEIGHTED bipartite
    # graph (weight = lineitem count, integer-valued -> exact sums):
    # s=30 cascades hard at sf0.01 (2216 -> 889 survivors across the two
    # rounds), so both peel rounds do real work
    q["s_core30_peel2"] = lambda s, d: s_core_peel(_edges(s, d), s=30, rounds=2)
    # fixed-round Boruvka twin of minimum_spanning_forest() (A32): forest
    # edges picked in rounds 1+2 on the weighted customer—part subgraph;
    # weights ride MIN only (no arithmetic), so the hashes are bit-exact
    q["msf_rounds2"] = lambda s, d: msf_rounds(_cc_edges(s, d), rounds=2)
    # single-linkage cut at distance 0.75 over the INVERTED weights
    # (1/weight as distance: weight>=2 pairs are "close") — the light
    # graph is sparse so most vertices land in singleton clusters, which
    # exercises the isolated-vertex path; the Spark side cuts the FULL
    # Boruvka fixpoint forest while the oracle closes over the raw light
    # edges directly, so a hash match cross-validates the entire MSF via
    # the Kruskal single-linkage property (components of {w<=t} ==
    # components of MSF edges with w<=t)
    q["single_linkage_d075"] = lambda s, d: single_linkage(
        _cc_edges(s, d).withColumn(
            "weight", F.lit(1.0) / F.col("weight")
        ),
        threshold=0.75,
    )
    # no rounding needed: Spark and the oracle evaluate the literally same
    # IEEE expression (2.0·tri / (d·(d−1)) on exactly-representable ints)
    q["clustering_coeff"] = lambda s, d: clustering_coefficient(
        _part_pairs(s, d)
    )

    # --- corpus / edge builders (S6/P8/J5/J6) ---
    q["shared_content_edges"] = lambda s, d: shared_content_edges(
        _doc_key_corpus(s, d), node_col="source", content_col="content_key"
    )[0].select("node_a", "node_b", "weight")
    # delta maintenance == full rebuild (oracle is the full-rebuild SQL)
    q["incremental_edges"] = _incremental_edges
    q["incremental_cocommit_users"] = _incremental_cocommit_users
    q["edge_diff_batch"] = _edge_diff_batch
    # association re-weighting of the shared-content graph (jaccard /
    # dice / cosine from the postings the builder maintains anyway)
    q["edge_assoc_weights"] = lambda s, d: (
        lambda corpus: association_edge_weights(
            shared_content_edges(
                corpus, node_col="source", content_col="content_key"
            )[0],
            shared_content_postings(corpus, "source", "content_key"),
        )
    )(_doc_key_corpus(s, d))
    # degree-bounding sparsifier: per-vertex top-2 heaviest edges
    q["topk2_sparsify"] = lambda s, d: G.topk_neighbors(_edges(s, d), k=2)
    q["cocommit_users"] = lambda s, d: (
        lambda fc: (
            fc.alias("a")
            .join(fc.alias("b"), "bucket")
            .filter(F.col("a.user_id") < F.col("b.user_id"))
            .groupBy(
                F.col("a.user_id").alias("user_a"),
                F.col("b.user_id").alias("user_b"),
            )
            .agg(F.count("*").cast("double").alias("weight"))
        )
    )(
        _t(s, d, "events")
        .select(
            "user_id",
            F.concat(
                F.col("event_type"), F.lit("@"), F.date_trunc("hour", "ts")
            ).alias("bucket"),
        )
        .distinct()
    )
    # exact document-length deciles (Spark's percentile aggregate is the
    # exact distributed form; at 100 TB swap for approx_percentile — the
    # gate pins the exact twin both engines implement identically, R-7
    # linear interpolation)
    q["doc_len_deciles"] = lambda s, d: _docs(s, d).agg(
        F.expr(
            "percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("qs")
    ).select(F.posexplode("qs").alias("decile", "n_chars_q"))
    q["sha256_invariant"] = lambda s, d: _docs(s, d).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_sha")
    )

    # deterministic bloom semi-join prefilter: orders probed against the
    # nation<5 customer keep-list; kept set (incl. false positives) is
    # bit-exact vs the DuckDB twin (functions/bloom.py)
    q["bloom_prefilter"] = lambda s, d: bloom_semi_join(
        _t(s, d, "orders").select("o_orderkey", "o_custkey"),
        "o_custkey",
        _t(s, d, "customer").filter("c_nationkey < 5").select("c_custkey"),
        "c_custkey",
        m_bits=1024,
        probes=3,
        seed=42,
    )

    # --- dedup family ---
    q["exact_dup_groups"] = lambda s, d: D.exact_duplicates(
        _docs(s, d)
    ).select("content_sha", "n")
    q["ngram_jaccard"] = lambda s, d: D.ngram_jaccard_pairs(
        _docs(s, d), n=2, threshold=0.1
    ).select("doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard"))
    # both sketch pipelines are oracled through the hash seam: a pure-
    # Python XXH64 twin materializes the (doc_id, h) intermediates and
    # DuckDB runs the signature/band/verify algebra over them (r3 VERDICT
    # next-step #4; see _ensure_hash_artifacts)
    q["minhash_near_dups"] = lambda s, d: D.minhash_lsh_pairs(
        _docs(s, d), threshold=0.3
    )
    q["simhash_near_dups"] = lambda s, d: D.simhash_near_dups(
        _docs(s, d), max_hamming=7
    )  # 8 chunks x 8 bits — sane candidate fanout at scale

    q["embedding_near_dups"] = lambda s, d: D.embedding_near_dups(
        _t(s, d, "embeddings")
        .filter(F.col("vec_id") < 150)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        ),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.2,
    ).select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))

    # --- similarity search ---
    q["knn_top3"] = lambda s, d: (
        lambda emb: knn_brute_force(emb, k=3)
        .select("query_id", "neighbor_id", "rank")
    )(
        _t(s, d, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
    )
    # dim=64 is the driver embeddings fixture's dimensionality (TESTDATA.md)
    # — passing it skips the wasted infer-dim job (`.first()`) at scale
    # axis-aligned planes: deterministic AND SQL-expressible -> oracled.
    # cosine is omitted from the gate columns (as in knn_top3): Spark
    # normalizes per-element while the oracle divides the dot by norms —
    # last-ulp differences occasionally straddle a 9-dp rounding boundary
    # and break the string value-hash even though allclose(1e-9) holds.
    # IVF coarse-quantizer ANN (the other scale family next to LSH):
    # deterministic init + fixed Lloyd rounds + 9-dp-snapped centroids ->
    # DuckDB twin with the iterations unrolled (_ivf_oracle_sql)
    q["ivf_knn_top1"] = lambda s, d: ivf_knn(
        _t(s, d, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        ),
        k=1,
        n_centroids=8,
        n_probe=2,
        iters=2,
        assign_method="expr",
    ).select("query_id", "neighbor_id", "rank")
    q["knn_lsh_top1"] = lambda s, d: knn_lsh(
        _t(s, d, "embeddings").filter(F.col("vec_id") < 200),
        k=1,
        n_planes=4,
        n_tables=8,
        dim=64,
        planes="axis",
    ).select("query_id", "neighbor_id", "rank")

    # --- embedding statistics (vector-curation family) ---
    # AVG/SUM accumulation order differs across engines, so the float
    # moments/covariances are rounded to 6 dp on BOTH sides (the sum
    # error over 500 rows is ~1e-12 — far inside the slack) and then
    # ``+ 0.0``-normalized on BOTH sides (IEEE -0.0 + 0.0 = +0.0;
    # DuckDB's ROUND emitted one literal -0.0 where Spark emitted 0.0,
    # which str-hashes differently); the
    # quantize gate needs NO slack (MAX / division / half-away ROUND are
    # order-insensitive, bit-identical in both engines)
    from parallel_louvain_method_spark.operators import embstats as EB

    q["emb_moments"] = lambda s, d: EB.embedding_moments(
        _t(s, d, "embeddings")
    ).select(
        "pos",
        "n",
        (F.round("mean", 6) + F.lit(0.0)).alias("mean"),
        (F.round("var", 6) + F.lit(0.0)).alias("var"),
    )
    # gates the Arrow-batched per-batch X.T@X partial-aggregation path
    q["emb_cov_tri"] = lambda s, d: EB.embedding_covariance(
        _t(s, d, "embeddings"), dim=64
    ).select("i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov"))
    q["quantize_emb"] = lambda s, d: EB.quantize_embeddings(
        _t(s, d, "embeddings")
    )[0]

    # fixed-basis projection: pins pca_project's distributed half (the
    # codegen centered dot products) with literal components — the
    # driver-side eigh is numpy-tested in pytest, not SQL-expressible.
    # Left-fold vs SUM accumulation order differs -> 6 dp + (-0.0) guard
    def _emb_project(s, d):
        comps = [
            [((-1.0) ** i) * (i + 1) / 64.0 for i in range(64)],
            [1.0 / (1 + (i * 7) % 13) for i in range(64)],
        ]
        mean = [0.25] * 64
        return (
            EB.project_embeddings(_t(s, d, "embeddings"), comps, mean)
            .select("id", F.posexplode("proj").alias("c", "val"))
            .select("id", "c", (F.round("val", 6) + F.lit(0.0)).alias("val"))
        )

    q["emb_project2"] = _emb_project

    # --- text analysis ---
    q["token_counts"] = lambda s, d: T.token_counts(_docs(s, d))
    q["quality_scores"] = lambda s, d: T.quality_scores(_docs(s, d)).select(
        "doc_id",
        "n_words",
        F.round("punct_ratio", 9).alias("punct_ratio"),
        F.round("stop_ratio", 9).alias("stop_ratio"),
        F.round("mean_word_len", 9).alias("mean_word_len"),
        F.round("quality", 9).alias("quality"),
    )
    q["language_id"] = lambda s, d: T.language_id(_docs(s, d))

    # --- iterative community ops ---
    # multilevel Louvain to convergence: the gate's ONLY rows-only
    # operator (unbounded levels + coarsening; its algebra is gated by
    # louvain_sweep1 + louvain_coarsen_sweep)
    q["louvain_communities"] = lambda s, d: louvain(s, _edges(s, d)).assignment
    # full LPA run: oracled — at sf0.01 the run executes exactly
    # max_iter=20 rounds (convergence streak never fires), so the rounds
    # unroll into SQL like lpa_k2 (see oracle_sql)
    q["label_propagation"] = lambda s, d: label_propagation(_cc_edges(s, d))
    # fixed-2-round LPA: pins the per-round algebra at a point where the
    # labels are still far from collapsed; the hashed-half activity bits
    # flow through the pyhash seam (_ensure_lpa_half_artifact)
    q["lpa_k2"] = lambda s, d: label_propagation(_cc_edges(s, d), max_iter=2)

    # one synchronous sql-engine Louvain sweep — gate-checkable because the
    # cc subgraph's integer weights make every float exact in both engines
    # (_louvain_sweep1_oracle_sql); the multilevel run stays rows-only
    def _louvain_sweep1(s, d):
        from parallel_louvain_method_spark.operators.graph import symmetric_edges
        from parallel_louvain_method_spark.operators.louvain import louvain_level

        sym = symmetric_edges(_cc_edges(s, d))
        assign, _deg, _m2, _stats = louvain_level(
            s, sym, local_threshold=0, superstep_engine="sql", max_sweeps=1
        )
        return assign.select("vtx", "comm")

    q["louvain_sweep1"] = _louvain_sweep1

    # fixed-shape MULTILEVEL slice: sweep → coarsen → sweep on the coarse
    # graph — gate-checks the coarsen algebra (prefix-sum renumber,
    # self-loop weights) that the full multilevel run exercises rows-only
    def _louvain_coarsen_sweep(s, d):
        from parallel_louvain_method_spark.operators.graph import symmetric_edges
        from parallel_louvain_method_spark.operators.louvain import (
            coarsen,
            louvain_level,
        )

        sym = symmetric_edges(_cc_edges(s, d))
        assign, _deg, _m2, _stats = louvain_level(
            s, sym, local_threshold=0, superstep_engine="sql", max_sweeps=1
        )
        coarse, cmap = coarsen(sym, assign)
        assign2, _, _, _ = louvain_level(
            s, coarse, local_threshold=0, superstep_engine="sql", max_sweeps=1
        )
        return (
            assign.join(cmap, "comm")
            .select("vtx", F.col("new_comm").alias("cv"))
            .join(assign2.withColumnsRenamed({"vtx": "cv"}), "cv")
            .select("vtx", "comm")
        )

    q["louvain_coarsen_sweep"] = _louvain_coarsen_sweep

    # fixed-schedule full k-core decomposition (A14 companion): 3 peel
    # rounds per stage k = 2, 3 — both stages cascade on the bipartite cc
    # subgraph (sf0.01 histogram: 36 / 86 / 2173 at coreness 1 / 2 / 3)
    q["coreness_k3_peel3"] = lambda s, d: coreness_peel(
        _cc_edges(s, d), max_k=3, rounds=3
    )

    # Weisfeiler-Lehman color refinement, 2 fixed rounds: exact-rank
    # relabeling (no hashing), so the DuckDB twin replays the dense ranks
    # over the ASCII signature strings byte-for-byte
    def _wl_colors_r2(s, d):
        from parallel_louvain_method_spark.operators.wl import wl_colors

        return wl_colors(_cc_edges(s, d), rounds=2).colors

    q["wl_colors_r2"] = _wl_colors_r2

    # sessionization over the events table (gaps-and-islands; the batch
    # twin of the applyInPandasWithState stream in streaming/events.py)
    q["user_sessions"] = lambda s, d: user_sessions_batch(
        _t(s, d, "events"), gap_seconds=1800
    ).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )

    # temporal graph (operators/temporal.py): contact-graph build + 3
    # rounds of time-respecting earliest-arrival relaxation from the
    # user_id<10 seed set (reach grows 10 -> 137 -> 150 at sf0.01, so the
    # rounds do real work); bucket times are exact longs -> no slack
    from parallel_louvain_method_spark.operators.temporal import (
        contact_edges,
        temporal_reach_rounds,
    )

    q["contact_edges_10m"] = lambda s, d: contact_edges(
        _t(s, d, "events"), bucket_seconds=600
    )[0]

    def _temporal_reach_r3(s, d):
        contacts, _ = contact_edges(_t(s, d, "events"), bucket_seconds=600)
        seeds = (
            _t(s, d, "events")
            .select("user_id")
            .filter(F.col("user_id") < 10)
            .distinct()
        )
        return temporal_reach_rounds(contacts, seeds, rounds=3)

    q["temporal_reach_r3"] = _temporal_reach_r3

    # whole-graph / partition diagnostics (operators/metrics.py)
    q["degree_assortativity"] = lambda s, d: degree_assortativity(
        _edges(s, d)
    ).select(F.round("assortativity", 8).alias("assortativity"))
    q["degree_assortativity_w"] = lambda s, d: degree_assortativity(
        _edges(s, d), weighted=True
    ).select(F.round("assortativity", 8).alias("assortativity"))

    def _partition_conductance(s, d):
        edges = _cc_edges(s, d)
        assign = G.vertex_ids(edges).select(
            F.col("v").alias("vtx"), (F.col("v") % 8).alias("community")
        )
        return partition_quality(edges, assign)

    q["partition_conductance"] = _partition_conductance
    # the reference's headline metric as a standalone gate: global Q of an
    # arbitrary partition = the sum of partition_quality's per-community
    # modularity terms (src/community.cpp:49-60 algebra)
    q["partition_modularity"] = lambda s, d: _partition_conductance(
        s, d
    ).agg(F.sum("modularity").alias("modularity"))

    # ANF at fixed hops, exact method (the oracle baseline; the HLL
    # HyperBall scale path is pinned to it in pytest)
    q["neighborhood_h2"] = lambda s, d: neighborhood_function(
        s, _cc_edges(s, d), max_hops=2, method="exact"
    )
    # effective diameter read off the ANF table — the DataFrame form of
    # operators/metrics.py effective_diameter (same alpha=0.9 rule), so
    # the truncated-h variant is gate-checked end to end
    q["eff_diameter_h2"] = lambda s, d: (
        lambda nf: nf.crossJoin(
            nf.agg(F.max("n_pairs").alias("mx"))
        )
        .filter(F.col("n_pairs") >= F.lit(0.9) * F.col("mx"))
        .agg(F.min("h").cast("long").alias("eff_diameter"))
    )(neighborhood_function(s, _cc_edges(s, d), max_hops=2, method="exact"))

    # edge-level cohesion: per-edge triangle support, and the fixed-round
    # k-truss peel twin (full ktruss() fixpoint is pinned in pytest)
    q["edge_support"] = lambda s, d: edge_support(_part_pairs(s, d))
    q["ktruss4_peel2"] = lambda s, d: ktruss_peel(
        _part_pairs(s, d), k=4, rounds=2
    )

    # truncated harmonic centrality, exact ANF mode (HLL HyperBall path
    # pinned to it in pytest)
    q["harmonic_h2"] = lambda s, d: harmonic_centrality(
        _cc_edges(s, d), max_hops=2, method="exact"
    )

    # DeepWalk corpus generation: seeded-hash walks, bit-deterministic,
    # so the DuckDB twin replays them exactly (steps unrolled)
    q["random_walks_l2"] = lambda s, d: random_walks(
        _cc_edges(s, d), walk_length=2, walks_per_vertex=1, seed=11
    )

    # node2vec: one uniform + one second-order biased step, integer bias
    # weights (return 1 / stay 3 / explore 2) — pure integer choice, so
    # the DuckDB twin replays it bit-for-bit
    def _node2vec_l2(s, d):
        from parallel_louvain_method_spark.operators.walks import (
            node2vec_walks,
        )

        return node2vec_walks(
            _cc_edges(s, d), walk_length=2,
            w_return=1, w_stay=3, w_explore=2, seed=11,
        )

    q["node2vec_l2"] = _node2vec_l2

    # truncated closeness: same HyperBall scan as harmonic_h2 (exact
    # method = the oracle baseline; HLL parity pinned in pytest).  No
    # rounding: n_reached/dist_sum divides exactly-representable ints —
    # IEEE-identical in both engines
    q["closeness_h2"] = lambda s, d: closeness_centrality(
        _cc_edges(s, d), max_hops=2, method="exact"
    )

    # fixed-k power-iteration twins (the pagerank_k3 pattern): L1
    # normalization keeps the algebra ANSI-SQL-expressible.  Eigenvector
    # runs on the triangle-bearing part-pair graph (non-bipartite, so the
    # iteration is well-posed); HITS runs on the DIRECTED customer→part
    # table — its native bipartite home turf
    q["eigencentrality_k2"] = lambda s, d: eigenvector_centrality(
        _part_pairs(s, d), max_iter=2, tol=None
    ).select("vtx", F.round("score", 8).alias("score"))
    q["hits_k2"] = lambda s, d: hits(
        _cc_edges(s, d), max_iter=2, tol=None
    ).select(
        "vtx",
        F.round("hub", 8).alias("hub"),
        F.round("authority", 8).alias("authority"),
    )
    # Katz: truncated attenuated-walk series, 3 terms, same part-pair
    # graph as eigencentrality (fixed-k gate-twin mode, tol=None)
    q["katz_k3"] = lambda s, d: katz_centrality(
        _part_pairs(s, d), beta=0.05, max_iter=3, tol=None
    ).select("vtx", F.round("katz", 8).alias("katz"))

    # exact rectangle (4-cycle) count via the co-degree identity
    # Σ c(c-1)/4 — the motif one up from triangle_count, same graph
    q["four_cycles"] = lambda s, d: s.createDataFrame(
        [(four_cycle_count(_part_pairs(s, d))[0],)], "n_four_cycles long"
    )

    # top TF-IDF term per document (deterministic integer tie-breaks)
    q["tfidf_top1"] = lambda s, d: T.tfidf_top_terms(_docs(s, d), k=1)

    # component size histogram over the cc subgraph
    q["component_sizes"] = lambda s, d: component_size_histogram(
        _cc_edges(s, d)
    )

    # exact degree distribution over the part-pair graph
    q["degree_hist"] = lambda s, d: degree_histogram(_part_pairs(s, d))

    # rich-club density at 4 thresholds on the part-pair graph
    q["rich_club_graph"] = lambda s, d: rich_club(
        _part_pairs(s, d), ks=[1, 2, 4, 8]
    ).select("k", "n_k", "e_k", F.round("phi", 8).alias("phi"))

    # Leiden-style connectivity refinement of the sweep-1 partition:
    # split internally-disconnected communities into connected parts
    # (canonical min-vtx labels)
    def _refine_sweep1(s, d):
        from parallel_louvain_method_spark.operators.graph import (
            symmetric_edges,
        )
        from parallel_louvain_method_spark.operators.louvain import (
            louvain_level,
        )

        base = _cc_edges(s, d)
        assign, _deg, _m2, _stats = louvain_level(
            s, symmetric_edges(base), local_threshold=0,
            superstep_engine="sql", max_sweeps=1,
        )
        return refine_communities(base, assign.select("vtx", "comm"))

    q["refine_sweep1"] = _refine_sweep1

    # generic one-mode bipartite projection (suppliers sharing parts),
    # count weights, observable right-degree cap doing real work at 20
    def _bipartite_supp(s, d):
        from parallel_louvain_method_spark.operators.graph import (
            bipartite_projection,
        )

        rel = _t(s, d, "lineitem").select("l_suppkey", "l_partkey")
        edges, _dropped = bipartite_projection(
            rel, "l_suppkey", "l_partkey", max_right_degree=20
        )
        return edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            "weight",
        )

    q["bipartite_supp_proj"] = _bipartite_supp

    # 2-hop ego subgraph around seeds {1, 7} on the cc subgraph:
    # original edge rows whose endpoints are both reached
    def _ego_h2(s, d):
        from parallel_louvain_method_spark.operators.graph import (
            ego_subgraph,
        )

        return ego_subgraph(_cc_edges(s, d), seeds=[1, 7], hops=2)

    q["ego_h2_cc"] = _ego_h2

    # one-row graph census on the part-pair graph
    q["graph_census"] = lambda s, d: graph_summary(_part_pairs(s, d)).select(
        "n_vertices", "n_edges", "n_self_loops", "max_degree",
        F.round("avg_degree", 8).alias("avg_degree"),
        F.round("density", 8).alias("density"),
    )

    # reciprocity of the DIRECTED part-precedence graph (earlier
    # linenumber -> later linenumber within an order; pairs seen in both
    # orders across different orders make the score non-trivial)
    def _reciprocity(s, d):
        l = _t(s, d, "lineitem").select(
            "l_orderkey", "l_partkey", "l_linenumber"
        )
        a = l.withColumnsRenamed(
            {"l_partkey": "src", "l_linenumber": "la"}
        )
        b = l.withColumnsRenamed(
            {"l_partkey": "dst", "l_linenumber": "lb"}
        )
        directed = (
            a.join(b, "l_orderkey")
            .filter(F.col("la") < F.col("lb"))
            .select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
            )
        )
        return reciprocity(directed).select(
            "n_directed", "n_reciprocal",
            F.round("reciprocity", 8).alias("reciprocity"),
        )

    q["edge_reciprocity"] = _reciprocity

    # directed triad census over the part-precedence graph (the SCC
    # fixture: its cyclic band plants feedback triads, the DAG band
    # transitive ones, opposite-order duplicates mutual sides)
    def _triad_census(s, d):
        from parallel_louvain_method_spark.operators.triangles import (
            triad_census,
        )

        return triad_census(_precedence_edges(s, d))

    q["triad_census"] = _triad_census

    # deterministic train/val/test assignment over documents: pure
    # integer hash of doc_id — the DuckDB twin replays every bucket
    def _hash_split(s, d):
        from parallel_louvain_method_spark.operators.sampling import (
            hash_split,
        )

        return hash_split(
            _docs(s, d), "doc_id", weights=(8, 1, 1), seed=7
        ).select("doc_id", "split")

    q["hash_split_docs"] = _hash_split

    # sequence packing (concat-and-chunk, operators/packing.py): pure
    # prefix-sum algebra -> bit-exact integer gate; budget 256 whitespace
    # tokens, 4 shards, so plenty of boundary splits at sf0.01
    def _pack(s, d):
        from parallel_louvain_method_spark.operators.packing import (
            pack_sequences,
        )

        return pack_sequences(_docs(s, d), budget=256, n_shards=4, seed=9)

    q["pack_seqs_b256"] = _pack

    def _pack_stats(s, d):
        from parallel_louvain_method_spark.operators.packing import (
            pack_sequences,
            packing_stats,
        )

        # fill_ratio = exact-int sum / (exact-int count * 256.0): the same
        # two integers divide on both engines -> identical doubles, no slack
        return packing_stats(
            pack_sequences(_docs(s, d), budget=256, n_shards=4, seed=9),
            budget=256,
        )

    q["packing_fill_b256"] = _pack_stats

    # balanced-mixture cap: 2 deterministically-chosen docs per language
    def _stratified_top2(s, d):
        from parallel_louvain_method_spark.operators.sampling import (
            stratified_topk,
        )

        return stratified_topk(
            _docs(s, d), "lang", "doc_id", k=2, seed=3
        ).select("doc_id", "lang")

    q["stratified_top2_lang"] = _stratified_top2

    # ARI + NMI between the sweep-1 Louvain partition and the vtx%8
    # blocking on the cc subgraph (partition_conductance's partition)
    def _partition_ari(s, d):
        from parallel_louvain_method_spark.operators.graph import (
            symmetric_edges,
        )
        from parallel_louvain_method_spark.operators.louvain import (
            louvain_level,
        )

        base = _cc_edges(s, d)
        assign, _deg, _m2, _stats = louvain_level(
            s, symmetric_edges(base), local_threshold=0,
            superstep_engine="sql", max_sweeps=1,
        )
        blocks = assign.select(
            "vtx", (F.col("vtx") % F.lit(8)).alias("comm")
        )
        return partition_compare(
            assign.select("vtx", "comm"), blocks
        ).select(
            "n", "n_a", "n_b",
            F.round("ari", 8).alias("ari"),
            F.round("nmi", 8).alias("nmi"),
        )

    q["partition_ari_nmi"] = _partition_ari

    # transitive near-dup clustering: the minhash pair graph (threshold
    # 0.3, the minhash_near_dups row's exact knobs) closed under
    # connected components, keeper = min doc_id
    q["near_dup_clusters"] = lambda s, d: D.near_dup_clusters(
        _docs(s, d), threshold=0.3
    )

    # GraphSAGE-style 2-hop fanout-2 neighbor sampling: seeded
    # _rank_hash top-k per frontier vertex, bit-deterministic, so the
    # DuckDB twin replays both hops with one ROW_NUMBER each
    q["neighbor_sample_f2"] = lambda s, d: neighbor_sample(
        _cc_edges(s, d), [2, 2], seed=11
    )

    # determinized Luby rounds (packed-BIGINT priority keys): the MIS
    # twin removes selection + neighborhood per round, the JP-coloring
    # twin removes only the selection; full fixpoint runs pinned in
    # pytest vs an independent python replay
    q["mis_r2"] = lambda s, d: mis_rounds(_cc_edges(s, d), 2, seed=5)
    q["coloring_r2"] = lambda s, d: coloring_rounds(_cc_edges(s, d), 2, seed=5)

    # 3 Bellman-Ford relaxation rounds from landmark seeds on the cc
    # subgraph — the fixed-round twin of operators/paths.py's fixpoint
    # (which pytest pins vs an independent Dijkstra); both engines take
    # MIN over identical double sums, so values are bit-exact
    q["sssp_r3"] = lambda s, d: shortest_paths_rounds(
        _cc_edges(s, d), [1, 7, 13], rounds=3
    )

    # FULL SCC fixpoint (trim + forward-coloring + backward match) on the
    # two-band part-precedence directed graph; the oracle is the
    # recursive-CTE mutual-reachability closure, so the gate hashes the
    # complete decomposition, not a fixed-round prefix
    q["scc_precedence"] = lambda s, d: strongly_connected_components(
        _precedence_edges(s, d)
    )

    # condensation DAG of the same directed graph — SCC contraction +
    # distinct cross-component edges, also a full-fixpoint hash
    q["condensation_dag"] = lambda s, d: condensation(_precedence_edges(s, d))

    # longest-path levels of that condensation DAG (full fixpoint; the
    # oracle enumerates every contracted path and keeps the max)
    q["topo_levels_dag"] = lambda s, d: topological_levels(
        condensation(_precedence_edges(s, d))
    )

    # Broder bow-tie census of the planted multi-band web graph — full
    # fixpoint (SCC + 4 reachability closures), all 7 regions non-empty
    q["bowtie_regions"] = lambda s, d: bowtie_decomposition(_web_edges(s, d))

    # sampled + hop-truncated betweenness (Brandes-Pich estimator from 3
    # landmark sources, paths of length <= 3) on the cc subgraph; sigma
    # path counts are exact integer doubles, dependencies identical IEEE
    q["betweenness_s3_h3"] = lambda s, d: betweenness_centrality(
        _cc_edges(s, d), [1, 7, 13], max_hops=3
    )

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["edge_build"] = _EDGES_SQL
    # same integer algebra replayed from the same Python coefficient
    # stream — bit-exact, no rounding slack anywhere
    o["rmat_s10"] = _KR.kronecker_oracle_sql(
        scale=10, edgefactor=8, seed=42, permute=True
    )
    o["symmetrize_dedup"] = _SYM_SQL
    o["canonical_edges"] = f"SELECT * FROM ({_SYM_SQL}) WHERE src <= dst"
    o["weighted_degree"] = (
        f"SELECT src AS vtx, SUM(weight) AS degree FROM ({_SYM_SQL}) GROUP BY 1"
    )
    o["incremental_degrees"] = (
        f"SELECT src AS vtx, SUM(weight) AS degree FROM ({_SYM_SQL}) GROUP BY 1"
    )
    o["max_vertex_id"] = (
        f"SELECT MAX(GREATEST(src, dst)) AS max_id FROM ({_EDGES_SQL})"
    )
    o["dense_renumber"] = f"""
        WITH ids AS (
            SELECT DISTINCT v FROM (
                SELECT src AS v FROM ({_EDGES_SQL})
                UNION SELECT dst AS v FROM ({_EDGES_SQL})
            )
        )
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS new_id FROM ids
    """
    o["triangle_count"] = f"""
        WITH p AS ({_PART_PAIRS_SQL})
        SELECT COUNT(*) AS n_triangles
        FROM p e1 JOIN p e2 ON e1.dst = e2.src
                  JOIN p e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """
    # Barrat C_w over the weighted co-commit user graph: id-ordered
    # triple enumeration (one row per triangle) carrying all three edge
    # weights; per-vertex contributions summed, then the strength/degree
    # normalization — term-for-term the Spark shapes
    o["weighted_clustering_users"] = """
        WITH fc AS (
            SELECT DISTINCT user_id,
                   event_type || '@' || CAST(date_trunc('hour', ts) AS VARCHAR)
                       AS bucket
            FROM events
        ),
        e AS (
            SELECT a.user_id AS u, b.user_id AS v,
                   CAST(COUNT(*) AS DOUBLE) AS w
            FROM fc a JOIN fc b ON a.bucket = b.bucket AND a.user_id < b.user_id
            GROUP BY 1, 2
        ),
        sym AS (
            SELECT u AS src, v AS dst, w FROM e
            UNION ALL SELECT v AS src, u AS dst, w FROM e
        ),
        deg AS (
            SELECT src AS v, COUNT(*) AS k, SUM(w) AS s FROM sym GROUP BY 1
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c,
                   e1.w AS wab, e2.w AS wbc, e3.w AS wac
            FROM e e1 JOIN e e2 ON e2.u = e1.v
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        contrib AS (
            SELECT v, SUM(t) AS tw FROM (
                SELECT a AS v, wab + wac AS t FROM tri
                UNION ALL SELECT b AS v, wab + wbc AS t FROM tri
                UNION ALL SELECT c AS v, wbc + wac AS t FROM tri
            ) GROUP BY 1
        )
        SELECT d.v AS vtx,
               CASE WHEN d.k >= 2
                    THEN COALESCE(c.tw, 0) / (d.s * (d.k - 1))
                    ELSE 0.0 END AS coeff_w
        FROM deg d LEFT JOIN contrib c ON c.v = d.v
    """
    o["graphlet_census"] = f"""
        WITH p AS ({_PART_PAIRS_SQL}),
        sym AS (
            SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p
        ),
        deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY 1),
        t AS (
            SELECT COUNT(*) AS n_tri
            FROM p e1 JOIN p e2 ON e1.dst = e2.src
                      JOIN p e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        degsum AS (
            SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
                   CAST(SUM(d * (d - 1) * (d - 2) / 6) AS BIGINT) AS n_claws
            FROM deg
        ),
        ep AS (
            SELECT SUM((da.d - 1) * (db.d - 1)) AS edge_prod
            FROM p JOIN deg da ON da.v = p.src JOIN deg db ON db.v = p.dst
        )
        SELECT degsum.n_wedges, degsum.n_claws,
               CAST(ep.edge_prod - 3 * t.n_tri AS BIGINT) AS n_paths3,
               CAST(t.n_tri AS BIGINT) AS n_triangles
        FROM degsum, ep, t
    """
    # incremental twin lands on the identical full-graph count
    o["incremental_triangles"] = f"""
        WITH p AS ({_PART_PAIRS_SQL})
        SELECT COUNT(*) AS n_triangles
        FROM p e1 JOIN p e2 ON e1.dst = e2.src
                  JOIN p e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """
    # staged (triangles -> extend -> EXISTS) rather than one flat 6-way
    # join: the flat form gets a catastrophic join order in DuckDB on
    # this dense graph (>240s); staged runs in <1s for the same algebra
    o["clique4_count"] = f"""
        WITH p AS ({_PART_PAIRS_SQL}),
        tri AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM p e1 JOIN p e2 ON e1.dst = e2.src
            JOIN p e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        ext AS (
            SELECT tri.a, tri.b, e4.dst AS d
            FROM tri JOIN p e4 ON e4.src = tri.c
        )
        SELECT COUNT(*) AS n_clique4 FROM ext
        WHERE EXISTS (SELECT 1 FROM p
                      WHERE p.src = ext.a AND p.dst = ext.d)
          AND EXISTS (SELECT 1 FROM p
                      WHERE p.src = ext.b AND p.dst = ext.d)
    """
    # Boruvka rounds 1+2: round 1 needs no labels (every vertex is its own
    # component); the contraction closure is the connected_components
    # recursive-CTE shape restricted to the round-1 picked pseudo-forest
    o["msf_rounds2"] = f"""
        WITH RECURSIVE rel AS (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   MIN(CAST(weight AS DOUBLE)) AS w
            FROM ({_CC_EDGES_SQL}) WHERE src <> dst GROUP BY 1, 2
        ),
        cand1 AS (
            SELECT comp, w, a, b,
                   ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, a, b)
                       AS rn
            FROM (SELECT a AS comp, w, a, b FROM rel
                  UNION ALL SELECT b, w, a, b FROM rel)
        ),
        picked1 AS (SELECT DISTINCT w, a, b FROM cand1 WHERE rn = 1),
        psym AS (
            SELECT a AS s, b AS d FROM picked1
            UNION SELECT b, a FROM picked1
        ),
        cl(v, label) AS (
            SELECT s, s FROM psym UNION SELECT d, d FROM psym
            UNION
            SELECT p.s, c.label FROM cl c JOIN psym p ON c.v = p.d
            WHERE c.label < p.s
        ),
        lab1 AS (SELECT v, MIN(label) AS lbl FROM cl GROUP BY v),
        cross2 AS (
            SELECT r.a, r.b, r.w, la.lbl AS la, lb.lbl AS lb
            FROM rel r JOIN lab1 la ON r.a = la.v
                       JOIN lab1 lb ON r.b = lb.v
            WHERE la.lbl <> lb.lbl
        ),
        cand2 AS (
            SELECT comp, w, a, b,
                   ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, a, b)
                       AS rn
            FROM (SELECT la AS comp, w, a, b FROM cross2
                  UNION ALL SELECT lb, w, a, b FROM cross2)
        ),
        picked2 AS (SELECT DISTINCT w, a, b FROM cand2 WHERE rn = 1)
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               CAST(w AS DOUBLE) AS w
        FROM (SELECT * FROM picked1 UNION SELECT * FROM picked2) u
    """
    # single-linkage oracle: min-label closure over the raw light edges
    # (w = 1/weight <= 0.75) — NO MSF involved, so the match proves the
    # Spark side's full Boruvka fixpoint via the Kruskal cut property
    o["single_linkage_d075"] = f"""
        WITH RECURSIVE base AS (
            SELECT src, dst, 1.0 / weight AS d FROM ({_CC_EDGES_SQL})
        ),
        verts AS (
            -- explicit DISTINCT subselect: inside WITH RECURSIVE, DuckDB
            -- gives ANY top-level-UNION cte recursive anchor/step
            -- semantics, which here dropped the dedup (23462 rows)
            SELECT DISTINCT v FROM (
                SELECT src AS v FROM base UNION ALL SELECT dst FROM base
            )
        ),
        rel AS (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   MIN(d) AS w
            FROM base WHERE src <> dst GROUP BY 1, 2
        ),
        light AS (SELECT a, b FROM rel WHERE w <= 0.75),
        sym AS (
            SELECT a AS s, b AS t FROM light UNION SELECT b, a FROM light
        ),
        cc(v, label) AS (
            SELECT s, s FROM sym UNION SELECT t, t FROM sym
            UNION
            SELECT s.s, c.label FROM cc c JOIN sym s ON c.v = s.t
            WHERE c.label < s.s
        ),
        lab AS (SELECT v, MIN(label) AS lbl FROM cc GROUP BY v)
        SELECT CAST(verts.v AS BIGINT) AS vtx,
               CAST(COALESCE(lab.lbl, verts.v) AS BIGINT) AS cluster
        FROM verts LEFT JOIN lab ON verts.v = lab.v
    """
    o["kcore80_peel2"] = f"""
        WITH p AS ({_PART_PAIRS_SQL}),
        sym AS (
            SELECT src, dst FROM p UNION SELECT dst AS src, src AS dst FROM p
        ),
        d0 AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY 1),
        k1 AS (SELECT v FROM d0 WHERE d >= 80),
        e1 AS (
            SELECT s.src, s.dst FROM sym s
            JOIN k1 a ON s.src = a.v JOIN k1 b ON s.dst = b.v
        ),
        d1 AS (SELECT src AS v, COUNT(*) AS d FROM e1 GROUP BY 1),
        k2 AS (SELECT v FROM d1 WHERE d >= 80)
        SELECT CAST(v AS BIGINT) AS vtx FROM k2
    """
    o["s_core30_peel2"] = f"""
        WITH base AS ({_EDGES_SQL}),
        sym AS (
            SELECT DISTINCT src, dst, weight FROM (
                SELECT src, dst, weight FROM base
                UNION ALL SELECT dst AS src, src AS dst, weight FROM base
            ) WHERE src <> dst
        ),
        w AS (SELECT src, dst, SUM(weight) AS weight FROM sym GROUP BY 1, 2),
        k1 AS (SELECT src AS v FROM w GROUP BY src HAVING SUM(weight) >= 30),
        e1 AS (
            SELECT w.src, w.dst, w.weight FROM w
            JOIN k1 a ON w.src = a.v JOIN k1 b ON w.dst = b.v
        ),
        k2 AS (SELECT src AS v FROM e1 GROUP BY src HAVING SUM(weight) >= 30)
        SELECT CAST(v AS BIGINT) AS vtx FROM k2
    """
    o["clustering_coeff"] = f"""
        WITH p AS ({_PART_PAIRS_SQL}),
        t AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM p e1 JOIN p e2 ON e1.dst = e2.src
                      JOIN p e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        tv AS (
            SELECT v, COUNT(*) AS n FROM (
                SELECT a AS v FROM t
                UNION ALL SELECT b FROM t
                UNION ALL SELECT c FROM t
            ) GROUP BY 1
        ),
        deg AS (
            SELECT v, COUNT(*) AS d FROM (
                SELECT src AS v FROM p UNION ALL SELECT dst FROM p
            ) GROUP BY 1
        )
        SELECT CAST(deg.v AS BIGINT) AS vtx,
               CASE WHEN deg.d >= 2
                    THEN 2.0 * COALESCE(tv.n, 0) / (deg.d * (deg.d - 1))
                    ELSE 0.0 END AS coeff
        FROM deg LEFT JOIN tv ON deg.v = tv.v
    """
    o["pagerank_k3"] = _unrolled_pagerank_sql(3, 0.85)
    o["ppr_k3_seed"] = _unrolled_ppr_sql(3, 0.85, seed_below=100)
    o["adamic_adar_cc"] = _adamic_adar_oracle_sql(max_degree=64, min_common=2)
    # two-level map equation under the vtx%8 blocking: the four-term
    # plogp expansion, term-for-term the Spark expression shapes
    o["map_equation_mod8"] = f"""
        WITH sym AS ({_SYM_SQL}),
        deg AS (SELECT src AS vtx, SUM(weight) AS degree FROM sym GROUP BY 1),
        vol AS (SELECT SUM(degree) AS vol FROM deg),
        pmod AS (
            SELECT vtx % 8 AS comm, SUM(degree) / (SELECT vol FROM vol)
                       AS p_mod
            FROM deg GROUP BY 1
        ),
        cuts AS (
            SELECT src % 8 AS comm, SUM(weight) AS cut
            FROM sym WHERE src % 8 <> dst % 8 GROUP BY 1
        ),
        mods AS (
            SELECT p.comm, p.p_mod,
                   COALESCE(c.cut, 0) / (SELECT vol FROM vol) AS q
            FROM pmod p LEFT JOIN cuts c USING (comm)
        ),
        nodes AS (
            SELECT SUM(CASE WHEN degree > 0
                       THEN (degree / v.vol) * log2(degree / v.vol)
                       ELSE 0 END) AS sum_plogp_p
            FROM deg, vol v
        ),
        m AS (
            SELECT SUM(q) AS q_tot,
                   SUM(CASE WHEN q > 0 THEN q * log2(q) ELSE 0 END)
                       AS sum_plogp_q,
                   SUM(CASE WHEN q + p_mod > 0
                       THEN (q + p_mod) * log2(q + p_mod) ELSE 0 END)
                       AS sum_plogp_qp,
                   COUNT(*) AS n_modules
            FROM mods
        )
        SELECT (CASE WHEN q_tot > 0 THEN q_tot * log2(q_tot) ELSE 0 END)
                   - 2 * sum_plogp_q - sum_plogp_p + sum_plogp_qp
                   AS codelength,
               n_modules,
               (CASE WHEN q_tot > 0 THEN q_tot * log2(q_tot) ELSE 0 END)
                   - sum_plogp_q AS index_len,
               sum_plogp_qp - sum_plogp_q - sum_plogp_p AS module_len
        FROM m, nodes
    """
    # Newman categorical assortativity under the vtx%5 coloring
    o["label_assort_mod5"] = f"""
        WITH p AS ({_PART_PAIRS_SQL}),
        sym AS (
            SELECT src, dst, weight FROM p WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst, weight FROM p WHERE src <> dst
        ),
        both_l AS (
            SELECT CAST(src % 5 AS VARCHAR) AS l_src,
                   CAST(dst % 5 AS VARCHAR) AS l_dst, weight
            FROM sym
        ),
        tot AS (SELECT SUM(weight) AS w_tot FROM both_l),
        diag AS (
            SELECT SUM(weight) AS w_diag FROM both_l WHERE l_src = l_dst
        ),
        marg AS (
            SELECT SUM(ab) AS sum_ab FROM (
                SELECT POWER(SUM(weight) / (SELECT w_tot FROM tot), 2) AS ab
                FROM both_l GROUP BY l_src
            )
        )
        SELECT (COALESCE(d.w_diag, 0) / t.w_tot - m.sum_ab)
                   / NULLIF(1.0 - m.sum_ab, 0) AS assortativity
        FROM diag d, tot t, marg m
    """
    # incremental CC must land on the identical full-graph labels
    o["incremental_cc"] = f"""
        WITH RECURSIVE base AS ({_CC_EDGES_SQL}),
        sym AS (
            SELECT src, dst FROM base UNION SELECT dst, src FROM base
        ),
        cc(v, label) AS (
            SELECT src, src FROM sym
            UNION SELECT dst, dst FROM sym
            UNION
            SELECT s.src, c.label FROM cc c JOIN sym s ON c.v = s.dst
            WHERE c.label < s.src
        )
        SELECT v AS vtx, MIN(label) AS component FROM cc GROUP BY v
    """
    o["connected_components"] = f"""
        WITH RECURSIVE base AS ({_CC_EDGES_SQL}),
        sym AS (
            SELECT src, dst FROM base UNION SELECT dst, src FROM base
        ),
        cc(v, label) AS (
            SELECT src, src FROM sym
            UNION SELECT dst, dst FROM sym
            UNION
            SELECT s.src, c.label FROM cc c JOIN sym s ON c.v = s.dst
            WHERE c.label < s.src
        )
        SELECT v AS vtx, MIN(label) AS component FROM cc GROUP BY v
    """
    o["shared_content_edges"] = f"""
        WITH k AS ({_DOC_KEY_SQL}),
        h AS (SELECT DISTINCT source, sha256(content_key) AS hh FROM k)
        SELECT a.source AS node_a, b.source AS node_b,
               CAST(COUNT(*) AS DOUBLE) AS weight
        FROM h a JOIN h b ON a.hh = b.hh AND a.source < b.source
        GROUP BY 1, 2
    """
    o["edge_assoc_weights"] = f"""
        WITH k AS ({_DOC_KEY_SQL}),
        h AS (SELECT DISTINCT source, sha256(content_key) AS hh FROM k),
        e AS (
            SELECT a.source AS node_a, b.source AS node_b,
                   CAST(COUNT(*) AS DOUBLE) AS weight
            FROM h a JOIN h b ON a.hh = b.hh AND a.source < b.source
            GROUP BY 1, 2
        ),
        c AS (SELECT source, COUNT(*) AS n FROM h GROUP BY 1)
        SELECT e.node_a, e.node_b, e.weight,
               e.weight / (ca.n + cb.n - e.weight) AS jaccard,
               2.0 * e.weight / (ca.n + cb.n) AS dice,
               e.weight / SQRT(CAST(ca.n * cb.n AS DOUBLE)) AS cosine,
               e.weight / LEAST(ca.n, cb.n) AS overlap,
               LOG2(e.weight * (SELECT CAST(COUNT(DISTINCT hh) AS DOUBLE)
                                FROM h)
                    / (ca.n * cb.n)) AS pmi
        FROM e
        JOIN c ca ON ca.source = e.node_a
        JOIN c cb ON cb.source = e.node_b
    """
    o["topk2_sparsify"] = f"""
        WITH base AS ({_EDGES_SQL}),
        sym AS (
            SELECT DISTINCT src, dst, weight FROM (
                SELECT src, dst, weight FROM base WHERE src <> dst
                UNION ALL
                SELECT dst AS src, src AS dst, weight FROM base
                WHERE src <> dst
            )
        ),
        ranked AS (
            SELECT src, dst, weight,
                   ROW_NUMBER() OVER (
                       PARTITION BY src ORDER BY weight DESC, dst ASC
                   ) AS rn
            FROM sym
        )
        SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst,
               weight
        FROM ranked WHERE rn <= 2
    """
    o["edge_diff_batch"] = f"""
        WITH ko AS (
            SELECT source,
                   array_to_string(({_WORDS})[1:3], ' ') AS content_key
            FROM documents WHERE doc_id % 4 <> 0
        ),
        kn AS ({_DOC_KEY_SQL}),
        ho AS (SELECT DISTINCT source, sha256(content_key) AS hh FROM ko),
        hn AS (SELECT DISTINCT source, sha256(content_key) AS hh FROM kn),
        eo AS (
            SELECT a.source AS node_a, b.source AS node_b,
                   CAST(COUNT(*) AS DOUBLE) AS old_weight
            FROM ho a JOIN ho b ON a.hh = b.hh AND a.source < b.source
            GROUP BY 1, 2
        ),
        en AS (
            SELECT a.source AS node_a, b.source AS node_b,
                   CAST(COUNT(*) AS DOUBLE) AS new_weight
            FROM hn a JOIN hn b ON a.hh = b.hh AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT COALESCE(eo.node_a, en.node_a) AS node_a,
               COALESCE(eo.node_b, en.node_b) AS node_b,
               eo.old_weight, en.new_weight,
               CASE WHEN eo.old_weight IS NULL THEN 'added'
                    WHEN en.new_weight IS NULL THEN 'removed'
                    WHEN eo.old_weight <> en.new_weight THEN 'changed'
                    ELSE 'same' END AS status
        FROM eo FULL OUTER JOIN en
          ON eo.node_a = en.node_a AND eo.node_b = en.node_b
    """
    # the incremental build must equal the from-scratch build over ALL
    # documents — so its oracle IS the full-rebuild query
    o["incremental_edges"] = f"""
        WITH k AS ({_DOC_KEY_SQL}),
        h AS (SELECT DISTINCT source, sha256(content_key) AS hh FROM k)
        SELECT a.source AS node_a, b.source AS node_b,
               CAST(COUNT(*) AS DOUBLE) AS weight
        FROM h a JOIN h b ON a.hh = b.hh AND a.source < b.source
        GROUP BY 1, 2
    """
    # same full-rebuild oracle as cocommit_users — the incremental path
    # must land on the identical pair table
    o["incremental_cocommit_users"] = """
        WITH fc AS (
            SELECT DISTINCT user_id,
                   event_type || '@' || CAST(date_trunc('hour', ts) AS VARCHAR)
                       AS bucket
            FROM events
        )
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               CAST(COUNT(*) AS DOUBLE) AS weight
        FROM fc a JOIN fc b ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2
    """
    o["cocommit_users"] = """
        WITH fc AS (
            SELECT DISTINCT user_id,
                   event_type || '@' || CAST(date_trunc('hour', ts) AS VARCHAR)
                       AS bucket
            FROM events
        )
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               CAST(COUNT(*) AS DOUBLE) AS weight
        FROM fc a JOIN fc b ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2
    """
    o["doc_len_deciles"] = """
        WITH q AS (
            SELECT quantile_cont(
                n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]
            ) AS qs
            FROM documents
        )
        SELECT CAST(i - 1 AS INT) AS decile,
               qs[CAST(i AS INT)] AS n_chars_q
        FROM q, generate_series(1, 9) AS t(i)
    """
    o["sha256_invariant"] = "SELECT doc_id, sha256(text) AS content_sha FROM documents"
    o["bloom_prefilter"] = bloom_oracle_sql(
        "SELECT c_custkey AS k FROM customer WHERE c_nationkey < 5",
        "SELECT o_orderkey, o_custkey FROM orders",
        "o_custkey",
        m_bits=1024,
        probes=3,
        seed=42,
    )
    o["exact_dup_groups"] = """
        SELECT sha256(text) AS content_sha, COUNT(*) AS n
        FROM documents GROUP BY 1 HAVING COUNT(*) > 1
    """
    o["ngram_jaccard"] = f"""
        WITH words AS (SELECT doc_id, {_WORDS} AS w FROM documents),
        grams AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS g
            FROM words, UNNEST(range(1, len(w))) AS t(i)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(i / (sa.sz + sb.sz - i), 9) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i / (sa.sz + sb.sz - i) >= 0.1
    """
    o["embedding_near_dups"] = """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 150
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(
                   list_dot_product(a.v, b.v)
                   / (SQRT(list_dot_product(a.v, a.v))
                      * SQRT(list_dot_product(b.v, b.v))), 9
               ) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (SQRT(list_dot_product(a.v, a.v))
                 * SQRT(list_dot_product(b.v, b.v))) >= 0.2
    """
    paths = _ensure_hash_artifacts()
    lpa_bits = _ensure_lpa_half_artifact()  # 20 rounds; k2 joins it in {0,1}
    o["lpa_k2"] = _lpa_oracle_sql(lpa_bits, iters=2)
    # the FULL to-convergence run is gate-exact at sf0.01: the engine's
    # per-round changed counts there are 1124, 825, ..., 1, 0, 0 — the
    # 3-zero-round convergence streak never fires before max_iter=20, so
    # the full run IS a fixed 20-round run on this input and unrolls like
    # lpa_k2 (round trajectory established with an exact DuckDB+pyhash
    # replica of labelprop.py's synchronous update; rounds past a true
    # fixpoint would be no-ops anyway, so unrolling all 20 is safe even
    # near convergence)
    o["label_propagation"] = _lpa_oracle_sql(lpa_bits, iters=20)
    o["louvain_sweep1"] = _louvain_sweep1_oracle_sql()
    o["louvain_coarsen_sweep"] = _louvain_coarsen_sweep_oracle_sql()
    o["coreness_k3_peel3"] = _coreness_peel_oracle_sql(max_k=3, rounds=3)
    o["wl_colors_r2"] = _wl_oracle_sql(rounds=2)
    o["user_sessions"] = _user_sessions_oracle_sql(gap_seconds=1800)
    _CONTACT_SQL = """
        SELECT DISTINCT a.user_id AS src, b.user_id AS dst, a.t
        FROM (SELECT DISTINCT user_id, event_type,
                     CAST(floor(epoch(ts) / 600) AS BIGINT) AS t
              FROM events) a
        JOIN (SELECT DISTINCT user_id, event_type,
                     CAST(floor(epoch(ts) / 600) AS BIGINT) AS t
              FROM events) b
          ON a.event_type = b.event_type AND a.t = b.t
         AND a.user_id <> b.user_id
    """
    o["contact_edges_10m"] = f"SELECT src, dst, t FROM ({_CONTACT_SQL})"

    def _temporal_reach_oracle_sql(rounds: int) -> str:
        """Unrolled time-respecting relaxation: each round is one
        state⋈contacts join (t >= t_arr) + a MIN merge — the literal
        algebra of operators/temporal.py:_reach_round."""
        prev = "s0"
        ctes = [
            f"c AS ({_CONTACT_SQL})",
            """s0 AS (
                SELECT DISTINCT user_id AS vtx,
                       (SELECT MIN(t) FROM c) AS t_arr
                FROM events WHERE user_id < 10
            )""",
        ]
        for r in range(1, rounds + 1):
            ctes.append(
                f"""r{r} AS (
                SELECT vtx, MIN(t_arr) AS t_arr FROM (
                    SELECT vtx, t_arr FROM {prev}
                    UNION ALL
                    SELECT c.dst AS vtx, MIN(c.t) AS t_arr
                    FROM {prev} JOIN c
                      ON {prev}.vtx = c.src AND c.t >= {prev}.t_arr
                    GROUP BY c.dst
                ) GROUP BY vtx
            )"""
            )
            prev = f"r{r}"
        return (
            "WITH " + ",\n".join(ctes)
            + f"\nSELECT CAST(vtx AS BIGINT) AS vtx, t_arr FROM {prev}"
        )

    o["temporal_reach_r3"] = _temporal_reach_oracle_sql(3)
    o["sssp_r3"] = _sssp_rounds_oracle_sql([1, 7, 13], rounds=3)
    # FULL-fixpoint check: scc(v) = min mutual-reachability class via the
    # recursive-CTE closure (same convention as connected_components)
    o["scc_precedence"] = _SCC_ORACLE_SQL
    o["condensation_dag"] = _CONDENSATION_ORACLE_SQL
    o["betweenness_s3_h3"] = _betweenness_oracle_sql([1, 7, 13], hops=3)
    o["topo_levels_dag"] = _TOPO_LEVELS_ORACLE_SQL
    o["bowtie_regions"] = _BOWTIE_ORACLE_SQL
    # explicit population-moment Pearson mirrors the engine exactly
    # (metrics.py uses covar_pop/stddev_pop + try_divide, not `corr`,
    # for ANSI-safe NULL on zero-variance graphs)
    o["degree_assortativity"] = f"""
        WITH sym AS MATERIALIZED ({_SYM_SQL}),
        deg AS MATERIALIZED (
            SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS deg
            FROM sym GROUP BY 1
        ),
        samples AS (
            SELECT a.deg AS du, b.deg AS dv
            FROM sym e
            JOIN deg a ON a.v = e.src
            JOIN deg b ON b.v = e.dst
            WHERE e.src <> e.dst
        )
        SELECT ROUND(
            covar_pop(du, dv) / (stddev_pop(du) * stddev_pop(dv)), 8
        ) AS assortativity FROM samples"""
    o["degree_assortativity_w"] = f"""
        WITH sym AS MATERIALIZED ({_SYM_SQL}),
        deg AS MATERIALIZED (
            SELECT src AS v, SUM(weight) AS deg FROM sym GROUP BY 1
        ),
        samples AS (
            SELECT a.deg AS du, b.deg AS dv
            FROM sym e
            JOIN deg a ON a.v = e.src
            JOIN deg b ON b.v = e.dst
            WHERE e.src <> e.dst
        )
        SELECT ROUND(
            covar_pop(du, dv) / (stddev_pop(du) * stddev_pop(dv)), 8
        ) AS assortativity FROM samples"""
    o["partition_conductance"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst, weight FROM (
                SELECT src, dst, weight FROM base
                UNION ALL
                SELECT dst AS src, src AS dst, weight FROM base
            )
        ),
        assign AS MATERIALIZED (
            SELECT v AS vtx, v % 8 AS community FROM (
                SELECT DISTINCT v FROM (
                    SELECT src AS v FROM base UNION SELECT dst AS v FROM base
                )
            )
        ),
        per_c AS (
            SELECT a.community AS community,
                   SUM(e.weight) AS volume,
                   SUM(CASE WHEN a.community = b.community
                       THEN e.weight ELSE 0.0 END) AS internal_weight
            FROM sym e
            JOIN assign a ON a.vtx = e.src
            JOIN assign b ON b.vtx = e.dst
            GROUP BY 1
        ),
        sizes AS (
            SELECT community, COUNT(DISTINCT vtx) AS n_vertices
            FROM assign GROUP BY 1
        ),
        tot AS (SELECT SUM(volume) AS total_volume FROM per_c)
        SELECT s.community,
               CAST(s.n_vertices AS BIGINT) AS n_vertices,
               COALESCE(p.volume, 0.0) AS volume,
               COALESCE(p.internal_weight, 0.0) AS internal_weight,
               COALESCE(p.volume, 0.0) - COALESCE(p.internal_weight, 0.0)
                   AS cut_weight,
               CASE WHEN LEAST(p.volume, t.total_volume - p.volume) > 0
                    THEN (p.volume - p.internal_weight)
                         / LEAST(p.volume, t.total_volume - p.volume)
               END AS conductance,
               CASE WHEN t.total_volume > 0
                    THEN COALESCE(p.internal_weight, 0.0) / t.total_volume
                         - (COALESCE(p.volume, 0.0) / t.total_volume)
                         * (COALESCE(p.volume, 0.0) / t.total_volume)
               END AS modularity
        FROM sizes s
        LEFT JOIN per_c p USING (community)
        CROSS JOIN tot t"""
    o["partition_modularity"] = (
        "SELECT SUM(modularity) AS modularity FROM ("
        + o["partition_conductance"]
        + ")"
    )
    # exact 2-hop ANF: ball(v,h) includes v; self-loops excluded from the
    # relation exactly like metrics.neighborhood_function(method="exact")
    o["neighborhood_h2"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        h0 AS (
            SELECT v AS vtx, v AS w FROM (
                SELECT DISTINCT v FROM (
                    SELECT src AS v FROM base UNION SELECT dst AS v FROM base
                )
            )
        ),
        h1 AS MATERIALIZED (
            SELECT DISTINCT vtx, w FROM (
                SELECT vtx, w FROM h0
                UNION ALL SELECT src AS vtx, dst AS w FROM sym
            )
        ),
        h2 AS MATERIALIZED (
            SELECT DISTINCT vtx, w FROM (
                SELECT vtx, w FROM h1
                UNION ALL
                SELECT e.src AS vtx, s.w FROM sym e JOIN h1 s ON s.vtx = e.dst
            )
        )
        SELECT CAST(h AS INTEGER) AS h, CAST(n_pairs AS BIGINT) AS n_pairs
        FROM (
            SELECT 1 AS h, COUNT(*) AS n_pairs FROM h1
            UNION ALL SELECT 2 AS h, COUNT(*) AS n_pairs FROM h2
        )"""
    # effective diameter off the ANF table: smallest h with
    # N(h) >= 0.9 * max N — composes the neighborhood_h2 oracle verbatim
    o["eff_diameter_h2"] = f"""
        WITH nf AS ({o["neighborhood_h2"]}),
        t AS (SELECT MAX(n_pairs) AS mx FROM nf)
        SELECT CAST(MIN(h) AS BIGINT) AS eff_diameter
        FROM nf, t WHERE n_pairs >= 0.9 * mx
    """
    # truncated harmonic: per-vertex ball-size differences over the same
    # h1/h2 composition — (c1-1)/1 + (c2-c1)/2, exact integer ratios
    o["harmonic_h2"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        h0 AS (SELECT DISTINCT src AS vtx, src AS w FROM sym),
        h1 AS MATERIALIZED (
            SELECT DISTINCT vtx, w FROM (
                SELECT vtx, w FROM h0
                UNION ALL SELECT src AS vtx, dst AS w FROM sym
            )
        ),
        h2 AS MATERIALIZED (
            SELECT DISTINCT vtx, w FROM (
                SELECT vtx, w FROM h1
                UNION ALL
                SELECT e.src AS vtx, s.w FROM sym e JOIN h1 s ON s.vtx = e.dst
            )
        ),
        c1 AS (SELECT vtx, COUNT(*) AS c FROM h1 GROUP BY 1),
        c2 AS (SELECT vtx, COUNT(*) AS c FROM h2 GROUP BY 1)
        SELECT CAST(c1.vtx AS BIGINT) AS vtx,
               CAST(c1.c - 1 AS DOUBLE) / CAST(1 AS DOUBLE)
               + CAST(c2.c - c1.c AS DOUBLE) / CAST(2 AS DOUBLE) AS harmonic
        FROM c1 JOIN c2 ON c2.vtx = c1.vtx"""
    # per-edge triangle support over the canonical (a<b<c) enumeration —
    # count-identical to the engine's degree-ordered orientation
    _supp = lambda e: f"""(
            SELECT x.u, x.v,
                   CAST(COALESCE(t.c, 0) AS BIGINT) AS support
            FROM {e} x LEFT JOIN (
                SELECT u, v, COUNT(*) AS c FROM (
                    SELECT a AS u, b AS v FROM tri_{e}
                    UNION ALL SELECT b AS u, c AS v FROM tri_{e}
                    UNION ALL SELECT a AS u, c AS v FROM tri_{e}
                ) GROUP BY 1, 2
            ) t ON t.u = x.u AND t.v = x.v
        )"""
    _tri = lambda e: f"""(
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM {e} e1
            JOIN {e} e2 ON e2.u = e1.v
            JOIN {e} e3 ON e3.u = e1.u AND e3.v = e2.v
        )"""
    o["edge_support"] = f"""
        WITH p AS MATERIALIZED ({_PART_PAIRS_SQL}),
        e0 AS MATERIALIZED (
            SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v FROM p
        ),
        tri_e0 AS MATERIALIZED {_tri("e0")}
        SELECT u, v, support FROM {_supp("e0")}"""
    o["ktruss4_peel2"] = f"""
        WITH p AS MATERIALIZED ({_PART_PAIRS_SQL}),
        e0 AS MATERIALIZED (
            SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v FROM p
        ),
        tri_e0 AS MATERIALIZED {_tri("e0")},
        e1 AS MATERIALIZED (
            SELECT u, v FROM {_supp("e0")} WHERE support >= 2
        ),
        tri_e1 AS MATERIALIZED {_tri("e1")},
        e2 AS MATERIALIZED (
            SELECT u, v FROM {_supp("e1")} WHERE support >= 2
        )
        SELECT u, v FROM e2"""
    # seeded-hash walk replay, steps unrolled (constants from
    # operators/walks.py — LCG mix mod 2^31-1, then mod degree)
    _wstep = lambda prev, step, seed: f"""(
            SELECT s.walk_id, a.dst AS cur
            FROM {prev} s
            JOIN wdeg d ON d.v = s.cur
            JOIN wadj a ON a.src = s.cur
             AND a.idx = ((s.walk_id * 2654435761 + {step} * 40503
                           + s.cur * 69069 + {seed}) % 2147483647) % d.deg
        )"""
    o["random_walks_l2"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        wsym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        wadj AS MATERIALIZED (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1
                       AS idx
            FROM wsym
        ),
        wdeg AS MATERIALIZED (
            SELECT src AS v, COUNT(*) AS deg FROM wsym GROUP BY 1
        ),
        s0 AS MATERIALIZED (SELECT v AS walk_id, v AS cur FROM wdeg),
        s1 AS MATERIALIZED {_wstep("s0", 0, 11)},
        s2 AS MATERIALIZED {_wstep("s1", 1, 11)}
        SELECT CAST(walk_id AS BIGINT) AS walk_id,
               CAST(step AS INTEGER) AS step,
               CAST(vtx AS BIGINT) AS vtx
        FROM (
            SELECT walk_id, 0 AS step, cur AS vtx FROM s0
            UNION ALL SELECT walk_id, 1 AS step, cur AS vtx FROM s1
            UNION ALL SELECT walk_id, 2 AS step, cur AS vtx FROM s2
        )"""
    # node2vec replay: uniform step 0 (keeping prev), then the biased
    # step's integer prefix-sum pick over the id-sorted candidates —
    # weights via equality / adjacency-EXISTS classification, identical
    # integer arithmetic end to end
    o["node2vec_l2"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        wsym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        wadj AS MATERIALIZED (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1
                       AS idx
            FROM wsym
        ),
        wdeg AS MATERIALIZED (
            SELECT src AS v, COUNT(*) AS deg FROM wsym GROUP BY 1
        ),
        s0 AS MATERIALIZED (SELECT v AS walk_id, v AS cur FROM wdeg),
        s1 AS MATERIALIZED (
            SELECT s.walk_id, s.cur AS prev, a.dst AS cur
            FROM s0 s
            JOIN wdeg d ON d.v = s.cur
            JOIN wadj a ON a.src = s.cur
             AND a.idx = ((s.walk_id * 2654435761 + 0 * 40503
                           + s.cur * 69069 + 11) % 2147483647) % d.deg
        ),
        cand AS (
            SELECT s.walk_id, s.prev, s.cur, a.dst AS nxt,
                   CASE WHEN a.dst = s.prev THEN 1
                        WHEN EXISTS (
                            SELECT 1 FROM wsym e
                            WHERE e.src = s.prev AND e.dst = a.dst
                        ) THEN 3
                        ELSE 2 END AS w
            FROM s1 s JOIN wadj a ON a.src = s.cur
        ),
        csum AS (
            SELECT walk_id, cur, nxt, w,
                   SUM(w) OVER (
                       PARTITION BY walk_id ORDER BY nxt
                       ROWS UNBOUNDED PRECEDING
                   ) - w AS cum,
                   SUM(w) OVER (PARTITION BY walk_id) AS tot
            FROM cand
        ),
        s2 AS (
            SELECT walk_id, nxt AS cur FROM csum
            WHERE ((walk_id * 2654435761 + 1 * 40503 + cur * 69069 + 11)
                   % 2147483647) % tot
                  BETWEEN cum AND cum + w - 1
        )
        SELECT CAST(walk_id AS BIGINT) AS walk_id,
               CAST(step AS INTEGER) AS step,
               CAST(vtx AS BIGINT) AS vtx
        FROM (
            SELECT walk_id, 0 AS step, cur AS vtx FROM s0
            UNION ALL SELECT walk_id, 1 AS step, cur AS vtx FROM s1
            UNION ALL SELECT walk_id, 2 AS step, cur AS vtx FROM s2
        )"""

    # GraphSAGE fanout sampling replay: the seed-11 _rank_hash collapses
    # to one BIGINT expression (mixer = (69069 + (11*2654435761 + 40503)
    # % M) % M = 1281615532, M = 2^31-1; dst*mixer < 2^62, no overflow),
    # one ROW_NUMBER per hop; hop-2 frontier = hop-1's sampled dsts
    _nsh = lambda hop: (
        f"((w.src * 2654435761 + {hop} * 40503) % 2147483647"
        f" + w.dst * 1281615532) % 2147483647"
    )
    o["neighbor_sample_f2"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        wsym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        h1 AS (
            SELECT w.src, w.dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY w.src ORDER BY {_nsh(1)}, w.dst
                   ) AS r
            FROM wsym w
        ),
        b1 AS MATERIALIZED (SELECT src, dst FROM h1 WHERE r <= 2),
        f2 AS (SELECT DISTINCT dst AS v FROM b1),
        h2 AS (
            SELECT w.src, w.dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY w.src ORDER BY {_nsh(2)}, w.dst
                   ) AS r
            FROM f2 JOIN wsym w ON w.src = f2.v
        ),
        b2 AS (SELECT src, dst FROM h2 WHERE r <= 2)
        SELECT CAST(hop AS INTEGER) AS hop,
               CAST(src AS BIGINT) AS src,
               CAST(dst AS BIGINT) AS dst
        FROM (
            SELECT 1 AS hop, src, dst FROM b1
            UNION ALL SELECT 2 AS hop, src, dst FROM b2
        )"""
    # Luby-round replays: the packed (priority, id) BIGINT key
    # ((v * mixer_r + r*40503) % (2^31-1)) * 2^31 + v with the seed-5
    # round mixers precomputed (operators/mis.py:_mixer: (69069 +
    # ((5+r)*2654435761 + 40503) % M) % M -> 387386495, 894338609);
    # one neighbor-MIN + one comparison per round, exactly the Spark plan
    _lkey = lambda v, r: (
        f"((({v}) * {387386495 if r == 0 else 894338609}"
        f" + {r * 40503}) % 2147483647) * 2147483648 + ({v})"
    )
    _luby_round_sql = lambda vs, es, r, sel: f"""
        k{r} AS MATERIALIZED (
            SELECT vtx, {_lkey('vtx', r)} AS k FROM {vs}
        ),
        nm{r} AS (
            SELECT w.src AS vtx, MIN(k2.k) AS nk
            FROM {es} w JOIN k{r} k2 ON k2.vtx = w.dst
            GROUP BY 1
        ),
        {sel} AS MATERIALIZED (
            SELECT a.vtx FROM k{r} a LEFT JOIN nm{r} b ON b.vtx = a.vtx
            WHERE b.nk IS NULL OR a.k < b.nk
        )"""
    _luby_prefix = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        wsym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        v0 AS (SELECT DISTINCT src AS vtx FROM wsym),
        {_luby_round_sql('v0', 'wsym', 0, 's0')}"""
    o["mis_r2"] = f"""{_luby_prefix},
        g0 AS (
            SELECT vtx FROM s0
            UNION SELECT w.dst AS vtx FROM wsym w
            JOIN s0 ON s0.vtx = w.src
        ),
        v1 AS MATERIALIZED (
            SELECT vtx FROM v0 EXCEPT SELECT vtx FROM g0
        ),
        e1 AS MATERIALIZED (
            SELECT w.src, w.dst FROM wsym w
            JOIN v1 a ON a.vtx = w.src JOIN v1 b ON b.vtx = w.dst
        ),
        {_luby_round_sql('v1', 'e1', 1, 's1')}
        SELECT CAST(vtx AS BIGINT) AS vtx FROM (
            SELECT vtx FROM s0 UNION ALL SELECT vtx FROM s1
        )"""
    o["coloring_r2"] = f"""{_luby_prefix},
        v1 AS MATERIALIZED (
            SELECT vtx FROM v0 EXCEPT SELECT vtx FROM s0
        ),
        e1 AS MATERIALIZED (
            SELECT w.src, w.dst FROM wsym w
            JOIN v1 a ON a.vtx = w.src JOIN v1 b ON b.vtx = w.dst
        ),
        {_luby_round_sql('v1', 'e1', 1, 's1')}
        SELECT CAST(vtx AS BIGINT) AS vtx, CAST(color AS INTEGER) AS color
        FROM (
            SELECT vtx, 0 AS color FROM s0
            UNION ALL SELECT vtx, 1 AS color FROM s1
        )"""
    o["minhash_near_dups"] = _minhash_oracle_sql(paths["minhash"], threshold=0.3)
    o["simhash_near_dups"] = _simhash_oracle_sql(paths["simhash"], max_hamming=7)
    o["ivf_knn_top1"] = _ivf_oracle_sql(n_centroids=8, n_probe=2, iters=2, k=1)
    o["knn_lsh_top1"] = _knn_lsh_axis_sql(n_planes=4, n_tables=8, dim=64, k=1)
    o["knn_top3"] = """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 200
        ),
        scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROUND(
                       list_dot_product(a.v, b.v)
                       / (SQRT(list_dot_product(a.v, a.v))
                          * SQRT(list_dot_product(b.v, b.v))), 9
                   ) AS cosine
            FROM e a JOIN e b ON a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC
                   ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
    """
    _EMB_X_SQL = """
        SELECT vec_id, CAST(g.i - 1 AS INT) AS pos,
               CAST(embedding[g.i] AS DOUBLE) AS val
        FROM embeddings, generate_series(1, 64) g(i)
    """
    o["emb_moments"] = f"""
        WITH x AS ({_EMB_X_SQL})
        SELECT pos, COUNT(*) AS n, ROUND(AVG(val), 6) + 0.0 AS mean,
               ROUND(AVG(val*val) - AVG(val)*AVG(val), 6) + 0.0 AS var
        FROM x GROUP BY pos
    """
    o["emb_cov_tri"] = f"""
        WITH x AS ({_EMB_X_SQL}),
        m AS (SELECT pos, AVG(val) AS mean, COUNT(*) AS n FROM x GROUP BY pos),
        gr AS (
            SELECT a.pos AS i, b.pos AS j, SUM(a.val * b.val) AS s
            FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos <= b.pos
            GROUP BY 1, 2
        )
        SELECT gr.i, gr.j,
               ROUND(gr.s / mi.n - mi.mean * mj.mean, 6) + 0.0 AS cov
        FROM gr JOIN m mi ON gr.i = mi.pos JOIN m mj ON gr.j = mj.pos
    """
    _COMP1 = ", ".join(
        repr(((-1.0) ** i) * (i + 1) / 64.0) for i in range(64)
    )
    _COMP2 = ", ".join(repr(1.0 / (1 + (i * 7) % 13)) for i in range(64))
    o["emb_project2"] = f"""
        WITH x AS ({_EMB_X_SQL}),
        c AS (
            SELECT CAST(u.i - 1 AS INT) AS pos, 0 AS comp,
                   u.v AS coef
            FROM (SELECT unnest([{_COMP1}]) AS v,
                         generate_subscripts([{_COMP1}], 1) AS i) u
            UNION ALL
            SELECT CAST(u.i - 1 AS INT) AS pos, 1 AS comp, u.v AS coef
            FROM (SELECT unnest([{_COMP2}]) AS v,
                         generate_subscripts([{_COMP2}], 1) AS i) u
        )
        SELECT x.vec_id AS id, c.comp AS c,
               ROUND(SUM((x.val - 0.25) * c.coef), 6) + 0.0 AS val
        FROM x JOIN c ON x.pos = c.pos
        GROUP BY 1, 2
    """
    o["quantize_emb"] = f"""
        WITH x AS ({_EMB_X_SQL}),
        sc AS (SELECT pos, MAX(ABS(val)) / 127.0 AS scale FROM x GROUP BY pos)
        SELECT x.vec_id AS id, x.pos,
               CAST(GREATEST(-127.0, LEAST(127.0,
                   CASE WHEN sc.scale = 0 THEN 0
                        ELSE ROUND(x.val / sc.scale, 0) END)) AS INT) AS q
        FROM x JOIN sc USING (pos)
    """
    o["token_counts"] = f"""
        SELECT doc_id,
               len({_WORDS}) AS ws_tokens,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
               length(text) AS chars
        FROM documents
    """
    _stop_en = "['the','of','and','to','in','is','it','that','was','for']"
    o["quality_scores"] = f"""
        WITH base AS (
            SELECT doc_id,
                   len({_WORDS}) AS n_words,
                   length(text) AS n_chars,
                   len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
                   len(list_intersect(list_distinct({_WORDS}), {_stop_en}))
                       AS stop_hits
            FROM documents
        )
        SELECT doc_id, n_words,
               ROUND(punct / GREATEST(n_chars, 1), 9) AS punct_ratio,
               ROUND(stop_hits / 10.0, 9) AS stop_ratio,
               ROUND((n_chars - (n_words - 1)) / GREATEST(n_words, 1), 9)
                   AS mean_word_len,
               ROUND(
                   (CASE WHEN n_words BETWEEN 10 AND 100000
                         THEN 1.0 ELSE 0.3 END)
                   * (1.0 - LEAST(punct / GREATEST(n_chars, 1) * 2, 1.0))
                   * (0.5 + LEAST(stop_hits / 10.0, 0.5)), 9) AS quality
        FROM base
    """
    _sw = {
        "en": "['the','of','and','to','in','is','it','that','was','for']",
        "es": "['el','la','de','que','y','en','un','ser','se','no']",
        "de": "['der','die','und','in','den','von','zu','das','mit','sich']",
        "fr": "['le','la','de','et','les','des','en','un','du','une']",
    }
    scores = ", ".join(
        f"len(list_intersect(list_distinct({_WORDS}), {arr})) AS s_{l}"
        for l, arr in _sw.items()
    )
    langs = list(_sw)
    case = "CASE "
    for l in langs:  # earlier languages win ties: first match in order
        case += f"WHEN s_{l} = best THEN '{l}' "
    case += "END"
    o["language_id"] = f"""
        WITH s AS (SELECT doc_id, {scores} FROM documents),
        m AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr) AS best FROM s)
        SELECT doc_id,
               CASE WHEN best > 0 THEN {case} ELSE 'und' END AS lang_pred,
               best AS lang_score
        FROM m
    """

    # truncated closeness at h=2 — the harmonic_h2 ball CTEs with the
    # Σ h·n_h / reached-count readout; the closeness division is exact
    # IEEE (small-int numerator and denominator), no rounding needed
    o["closeness_h2"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            ) WHERE src <> dst
        ),
        h0 AS (SELECT DISTINCT src AS vtx, src AS w FROM sym),
        h1 AS MATERIALIZED (
            SELECT DISTINCT vtx, w FROM (
                SELECT vtx, w FROM h0
                UNION ALL SELECT src AS vtx, dst AS w FROM sym
            )
        ),
        h2 AS MATERIALIZED (
            SELECT DISTINCT vtx, w FROM (
                SELECT vtx, w FROM h1
                UNION ALL
                SELECT e.src AS vtx, s.w FROM sym e JOIN h1 s ON s.vtx = e.dst
            )
        ),
        c1 AS (SELECT vtx, COUNT(*) AS c FROM h1 GROUP BY 1),
        c2 AS (SELECT vtx, COUNT(*) AS c FROM h2 GROUP BY 1)
        SELECT CAST(c1.vtx AS BIGINT) AS vtx,
               CAST(c2.c - 1 AS BIGINT) AS n_reached,
               CAST((c1.c - 1) + (c2.c - c1.c) * 2 AS DOUBLE) AS dist_sum,
               CASE WHEN (c1.c - 1) + (c2.c - c1.c) * 2 > 0 THEN
                   CAST(c2.c - 1 AS DOUBLE)
                   / CAST((c1.c - 1) + (c2.c - c1.c) * 2 AS DOUBLE)
               END AS closeness
        FROM c1 JOIN c2 ON c2.vtx = c1.vtx"""

    o["eigencentrality_k2"] = _unrolled_eigen_sql(2)
    o["hits_k2"] = _unrolled_hits_sql(2)
    o["katz_k3"] = _unrolled_katz_sql(3, beta=0.05)

    # rectangle count: co-degree identity over wedges of the simple
    # symmetric graph — each 4-cycle is C(c,2) at each of its two
    # diagonals, so #C4 = Σ c(c-1) / 4
    o["four_cycles"] = f"""
        WITH p AS MATERIALIZED ({_PART_PAIRS_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM p
                UNION ALL SELECT dst AS src, src AS dst FROM p
            ) WHERE src <> dst
        ),
        cd AS (
            SELECT a.dst AS u1, b.dst AS u2, COUNT(*) AS c
            FROM sym a JOIN sym b
              ON a.src = b.src AND a.dst < b.dst
            GROUP BY 1, 2
        )
        SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) // 4 AS BIGINT)
                   AS n_four_cycles
        FROM cd
    """

    o["tfidf_top1"] = f"""
        WITH tok AS (
            SELECT doc_id, UNNEST({_WORDS}) AS term FROM documents
        ),
        tok_ne AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok_ne GROUP BY 1, 2
        ),
        df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df
            FROM tok_ne GROUP BY 1
        ),
        nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   tf.tf * ln(CAST(nn.n AS DOUBLE) / df.df) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN nn
        ),
        ranked AS (
            SELECT doc_id, term, tf, tfidf,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY tfidf DESC, tf DESC, term ASC
                   ) AS rnk
            FROM scored
        )
        SELECT doc_id, term, tf, ROUND(tfidf, 8) AS tfidf, rnk
        FROM ranked WHERE rnk <= 1
    """

    o["component_sizes"] = f"""
        WITH RECURSIVE base AS ({_CC_EDGES_SQL}),
        sym AS (
            SELECT src, dst FROM base UNION SELECT dst, src FROM base
        ),
        cc(v, label) AS (
            SELECT src, src FROM sym
            UNION SELECT dst, dst FROM sym
            UNION
            SELECT s.src, c.label FROM cc c JOIN sym s ON c.v = s.dst
            WHERE c.label < s.src
        ),
        lab AS (SELECT v, MIN(label) AS component FROM cc GROUP BY v),
        sizes AS (
            SELECT component, COUNT(*) AS size FROM lab GROUP BY 1
        )
        SELECT size, COUNT(*) AS n_components FROM sizes GROUP BY 1
    """

    o["degree_hist"] = f"""
        WITH p AS MATERIALIZED ({_PART_PAIRS_SQL}),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM p
                UNION ALL SELECT dst AS src, src AS dst FROM p
            ) WHERE src <> dst
        ),
        deg AS (SELECT src, COUNT(*) AS degree FROM sym GROUP BY 1)
        SELECT degree, COUNT(*) AS n_vertices FROM deg GROUP BY 1
    """

    # rich-club: n_k = |{v : deg(v) > k}|, e_k = edges inside the club,
    # phi = 2 e_k / (n_k (n_k - 1)) — same IEEE expression as the Spark
    # side (2.0 * e / (n * (n-1)), double division last)
    o["rich_club_graph"] = f"""
        WITH p AS MATERIALIZED ({_PART_PAIRS_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM p
                UNION ALL SELECT dst AS src, src AS dst FROM p
            ) WHERE src <> dst
        ),
        deg AS MATERIALIZED (
            SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY 1
        ),
        ks AS (SELECT UNNEST([1, 2, 4, 8]) AS k),
        n_k AS (
            SELECT k, COUNT(*) AS n_k FROM deg CROSS JOIN ks
            WHERE d > k GROUP BY 1
        ),
        emin AS (
            SELECT LEAST(du.d, dv.d) AS dmin
            FROM sym e JOIN deg du ON du.v = e.src
                       JOIN deg dv ON dv.v = e.dst
            WHERE e.src < e.dst
        ),
        e_k AS (
            SELECT k, COUNT(*) AS e_k FROM emin CROSS JOIN ks
            WHERE dmin > k GROUP BY 1
        )
        SELECT ks.k,
               COALESCE(n_k.n_k, 0) AS n_k,
               COALESCE(e_k.e_k, 0) AS e_k,
               ROUND(
                   CASE WHEN COALESCE(n_k.n_k, 0) >= 2 THEN
                       2.0 * COALESCE(e_k.e_k, 0)
                       / (COALESCE(n_k.n_k, 0) * (COALESCE(n_k.n_k, 0) - 1))
                   END, 8) AS phi
        FROM ks LEFT JOIN n_k ON n_k.k = ks.k
                LEFT JOIN e_k ON e_k.k = ks.k
    """

    # Leiden-style refinement of the sweep-1 partition: min-label
    # connected components over the INTRA-community symmetric edges,
    # singleton fallback for vertices with no intra-community edge
    o["refine_sweep1"] = f"""
        WITH RECURSIVE a1 AS MATERIALIZED ({_louvain_sweep1_oracle_sql()}),
        symr AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT src, dst FROM ({_CC_EDGES_SQL})
                UNION SELECT dst AS src, src AS dst FROM ({_CC_EDGES_SQL})
            ) WHERE src <> dst
        ),
        intra AS MATERIALIZED (
            SELECT s.src, s.dst
            FROM symr s
            JOIN a1 x ON x.vtx = s.src
            JOIN a1 y ON y.vtx = s.dst
            WHERE x.comm = y.comm
        ),
        cc(v, label) AS (
            SELECT src, src FROM intra
            UNION SELECT dst, dst FROM intra
            UNION
            SELECT i.src, c.label FROM cc c JOIN intra i ON c.v = i.dst
            WHERE c.label < i.src
        ),
        lab AS (SELECT v, MIN(label) AS component FROM cc GROUP BY v)
        SELECT a1.vtx, COALESCE(lab.component, a1.vtx) AS comm
        FROM a1 LEFT JOIN lab ON lab.v = a1.vtx
    """

    # generic bipartite projection: suppliers sharing parts, weight =
    # shared part count, right-degree cap 20 (groups above it excluded)
    o["bipartite_supp_proj"] = """
        WITH rel AS (
            SELECT DISTINCT l_suppkey AS node, l_partkey AS rk
            FROM lineitem
        ),
        ok AS (
            SELECT node, rk FROM rel
            WHERE rk NOT IN (
                SELECT rk FROM rel GROUP BY rk HAVING COUNT(*) > 20
            )
        )
        SELECT CAST(a.node AS BIGINT) AS src,
               CAST(b.node AS BIGINT) AS dst,
               CAST(COUNT(*) AS DOUBLE) AS weight
        FROM ok a JOIN ok b ON a.rk = b.rk AND a.node < b.node
        GROUP BY 1, 2
    """

    # 2-hop ego subgraph from seeds {1,7}: unrolled frontier expansion
    # over the symmetric cc edges, then both-endpoint induction on the
    # ORIGINAL rows
    o["ego_h2_cc"] = f"""
        WITH base AS MATERIALIZED ({_CC_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM base
                UNION ALL SELECT dst AS src, src AS dst FROM base
            )
        ),
        r0 AS (SELECT UNNEST([1, 7]) AS v),
        r1 AS (
            SELECT v FROM r0
            UNION SELECT s.dst FROM sym s JOIN r0 ON r0.v = s.src
        ),
        r2 AS (
            SELECT v FROM r1
            UNION SELECT s.dst FROM sym s JOIN r1 ON r1.v = s.src
        )
        SELECT b.src, b.dst, b.weight
        FROM base b
        JOIN r2 x ON x.v = b.src
        JOIN r2 y ON y.v = b.dst
    """

    o["graph_census"] = f"""
        WITH p AS MATERIALIZED ({_PART_PAIRS_SQL}),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM p
                UNION ALL SELECT dst AS src, src AS dst FROM p
            ) WHERE src <> dst
        ),
        deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY 1),
        s AS (
            SELECT COUNT(*) AS n_vertices, SUM(d) AS deg_sum,
                   MAX(d) AS max_degree
            FROM deg
        ),
        loops AS (
            SELECT COUNT(*) AS n_self_loops
            FROM (SELECT DISTINCT src, dst FROM p WHERE src = dst)
        )
        SELECT CAST(n_vertices AS BIGINT) AS n_vertices,
               CAST(deg_sum / 2 AS BIGINT) AS n_edges,
               CAST(n_self_loops AS BIGINT) AS n_self_loops,
               CAST(max_degree AS BIGINT) AS max_degree,
               ROUND(2.0 * (deg_sum / 2) / n_vertices, 8) AS avg_degree,
               ROUND(2.0 * (deg_sum / 2)
                     / (n_vertices * (n_vertices - 1)), 8) AS density
        FROM s CROSS JOIN loops
    """

    o["edge_reciprocity"] = """
        WITH d AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_linenumber < b.l_linenumber
            WHERE a.l_partkey <> b.l_partkey
        ),
        r AS (
            SELECT COUNT(*) AS n_reciprocal
            FROM d WHERE EXISTS (
                SELECT 1 FROM d x WHERE x.src = d.dst AND x.dst = d.src
            )
        ),
        n AS (SELECT COUNT(*) AS n_directed FROM d)
        SELECT n.n_directed, r.n_reciprocal,
               ROUND(CAST(r.n_reciprocal AS DOUBLE) / n.n_directed, 8)
                   AS reciprocity
        FROM n CROSS JOIN r
    """
    # triad census twin: pair flags on the canonical (lo, hi) key, then
    # every underlying triangle a<b<c classified by the same boolean
    # algebra as operators/triangles.py:triad_census
    o["triad_census"] = f"""
        WITH d AS MATERIALIZED ({_DPREC_SQL}),
        p AS MATERIALIZED (
            SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi,
                   MAX(CASE WHEN src < dst THEN 1 ELSE 0 END) AS fwd,
                   MAX(CASE WHEN src > dst THEN 1 ELSE 0 END) AS rev
            FROM d WHERE src <> dst GROUP BY 1, 2
        ),
        t AS (
            SELECT x.fwd AS f_ab, x.rev AS f_ba,
                   y.fwd AS f_bc, y.rev AS f_cb,
                   z.fwd AS f_ac, z.rev AS f_ca
            FROM p x
            JOIN p y ON y.lo = x.hi
            JOIN p z ON z.lo = x.lo AND z.hi = y.hi
        ),
        c AS (
            SELECT (f_ab = 1 AND f_ba = 1) OR (f_bc = 1 AND f_cb = 1)
                       OR (f_ac = 1 AND f_ca = 1) AS mixed,
                   (f_ab = 1 AND f_bc = 1 AND f_ca = 1)
                       OR (f_ba = 1 AND f_cb = 1 AND f_ac = 1) AS cyc
            FROM t
        )
        SELECT
            CAST(COALESCE(SUM(CASE WHEN NOT mixed AND cyc THEN 1 END), 0)
                 AS BIGINT) AS n_cyclic,
            CAST(COALESCE(SUM(CASE WHEN NOT mixed AND NOT cyc THEN 1 END), 0)
                 AS BIGINT) AS n_transitive,
            CAST(COALESCE(SUM(CASE WHEN mixed THEN 1 END), 0)
                 AS BIGINT) AS n_mixed
        FROM c
    """
    # hash_split twin: the walks-module integer mix on doc_id, seed 7 —
    # bucket = ((doc_id*2654435761 + (7*69069+40503)) % 2147483647) % 10
    # concat-and-chunk packing replay: same Mersenne-31 shard hash
    # (coefficients from the seed-9 SplitMix stream, embedded as
    # literals), same in-shard doc_id order, same prefix-sum slicing
    _PACK_BASE_SQL = """
        WITH base AS (
            SELECT doc_id,
                   CAST(((1234188725 * (doc_id % 2147483647) + 723250568)
                         % 2147483647) % 4 AS INT) AS shard,
                   CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT) AS t
            FROM documents
        ),
        f AS (SELECT * FROM base WHERE t > 0),
        offs AS (
            SELECT doc_id, shard, t,
                   CAST(SUM(t) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - t
                        AS BIGINT) AS s
            FROM f
        ),
        sp AS (
            SELECT doc_id, shard, s, t,
                   CAST(unnest(range(s // 256, (s + t - 1) // 256 + 1))
                        AS BIGINT) AS seq_id
            FROM offs
        )
        SELECT shard, seq_id, doc_id,
               GREATEST(seq_id * 256 - s, 0) AS doc_from,
               LEAST(seq_id * 256 + 256 - s, t) AS doc_to,
               GREATEST(s - seq_id * 256, 0) AS seq_from
        FROM sp
    """
    o["pack_seqs_b256"] = _PACK_BASE_SQL
    o["packing_fill_b256"] = f"""
        WITH packed AS ({_PACK_BASE_SQL}),
        per_seq AS (
            SELECT shard, seq_id, SUM(doc_to - doc_from) AS fill
            FROM packed GROUP BY 1, 2
        )
        SELECT shard, COUNT(*) AS n_sequences,
               CAST(SUM(fill) AS BIGINT) AS tokens,
               CAST(SUM(fill) AS DOUBLE) / (COUNT(*) * 256.0) AS fill_ratio
        FROM per_seq GROUP BY shard
    """
    o["hash_split_docs"] = """
        SELECT doc_id,
               CASE WHEN ((doc_id * 2654435761 + 523986) % 2147483647) % 10
                         < 8 THEN 'train'
                    WHEN ((doc_id * 2654435761 + 523986) % 2147483647) % 10
                         < 9 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """
    # stratified_topk twin: rank within lang by (hash(doc_id, seed 3),
    # doc_id) — seed term (3*69069+40503) = 247710
    o["stratified_top2_lang"] = """
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY (doc_id * 2654435761 + 247710)
                                % 2147483647, doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= 2
    """

    # ARI + NMI between sweep-1 Louvain and the vtx%8 blocking: exact
    # integer contingency sums, then the same IEEE log/division shapes
    # as the Spark side (ln n - sum/n entropies, pair counts / 2.0)
    o["partition_ari_nmi"] = f"""
        WITH a1 AS MATERIALIZED ({_louvain_sweep1_oracle_sql()}),
        pairs AS (SELECT vtx, comm AS ca, vtx % 8 AS cb FROM a1),
        cells AS (
            SELECT ca, cb, COUNT(*) AS nij FROM pairs GROUP BY 1, 2
        ),
        arow AS (SELECT ca, SUM(nij) AS ai FROM cells GROUP BY 1),
        brow AS (SELECT cb, SUM(nij) AS bj FROM cells GROUP BY 1),
        nn AS (
            SELECT SUM(nij) AS n,
                   SUM(nij * (nij - 1) / 2.0) AS sum_nij_pairs
            FROM cells
        ),
        aa AS (
            SELECT COUNT(*) AS n_a,
                   SUM(ai * (ai - 1) / 2.0) AS sum_ai_pairs,
                   SUM(ai * ln(ai)) AS sum_ai_log
            FROM arow
        ),
        bb AS (
            SELECT COUNT(*) AS n_b,
                   SUM(bj * (bj - 1) / 2.0) AS sum_bj_pairs,
                   SUM(bj * ln(bj)) AS sum_bj_log
            FROM brow
        ),
        mi AS (
            SELECT SUM(c.nij * ln(c.nij / (CAST(a.ai AS DOUBLE) * b.bj)))
                       AS sum_nij_log
            FROM cells c JOIN arow a ON a.ca = c.ca
                         JOIN brow b ON b.cb = c.cb
        )
        SELECT CAST(nn.n AS BIGINT) AS n,
               CAST(aa.n_a AS BIGINT) AS n_a,
               CAST(bb.n_b AS BIGINT) AS n_b,
               ROUND(
                   (nn.sum_nij_pairs
                    - aa.sum_ai_pairs * bb.sum_bj_pairs
                      / (CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2.0))
                   / ((aa.sum_ai_pairs + bb.sum_bj_pairs) / 2.0
                      - aa.sum_ai_pairs * bb.sum_bj_pairs
                        / (CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2.0)), 8)
                   AS ari,
               ROUND(
                   (mi.sum_nij_log / nn.n + ln(CAST(nn.n AS DOUBLE)))
                   / (((ln(CAST(nn.n AS DOUBLE)) - aa.sum_ai_log / nn.n)
                       + (ln(CAST(nn.n AS DOUBLE)) - bb.sum_bj_log / nn.n))
                      / 2.0), 8) AS nmi
        FROM nn CROSS JOIN aa CROSS JOIN bb CROSS JOIN mi
    """

    # transitive near-dup clusters: the minhash pair twin (threshold 0.3,
    # same hashed-shingle seam) closed under min-label components — the
    # connected_components recursive-CTE pattern over doc ids
    o["near_dup_clusters"] = f"""
        WITH RECURSIVE pairs AS MATERIALIZED (
            {_minhash_oracle_sql(paths["minhash"], threshold=0.3)}
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        cc(v, label) AS (
            SELECT src, src FROM sym
            UNION SELECT dst, dst FROM sym
            UNION
            SELECT s.src, c.label FROM cc c JOIN sym s ON c.v = s.dst
            WHERE c.label < s.src
        ),
        lab AS (SELECT v AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY v)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(cluster_id AS BIGINT) AS cluster_id,
               doc_id = cluster_id AS keep
        FROM lab
    """
    return o
