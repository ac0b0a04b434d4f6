"""spark-submit entrypoints (north star: "runs via spark-submit --py-files").

Usage (any Spark cluster; locally the session builder fills in master):

    spark-submit --py-files plm.zip -m parallel_louvain_method_spark.cli \\
        build-graph --corpus s3://bucket/corpus --out /tmp/edges \\
                    --link sha256 --node repo
    ... cli.py louvain   --edges /tmp/edges --out /tmp/comms \\
                    --checkpoint /tmp/ck --resume
    ... cli.py pagerank  --edges /tmp/edges --out /tmp/ranks --iters 20
    ... cli.py components --edges /tmp/edges --out /tmp/cc
    ... cli.py triangles --edges /tmp/edges
    ... cli.py dedup     --docs /data/documents --out /tmp/dups --method minhash
    ... cli.py knn       --embeddings /data/emb --out /tmp/knn --method lsh --dim 64
    ... cli.py text      --docs /data/documents --out /tmp/tok --op tokens

On a real cluster, run through ``spark-submit`` so the session comes from
the cluster manager; locally this module builds one via session.get_spark.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F


def _spark(app: str) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active:
        return active
    from parallel_louvain_method_spark.session import get_spark

    return get_spark(app_name=app)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="plm")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("build-graph", help="corpus -> edge table")
    g.add_argument("--corpus", required=True, help="parquet/iceberg path")
    g.add_argument("--out", required=True)
    g.add_argument("--link", choices=["sha256", "cocommit"], default="sha256")
    g.add_argument("--node", default="repo")
    g.add_argument("--max-group", type=int, default=1000)

    lv = sub.add_parser("louvain", help="multi-level Louvain")
    lv.add_argument("--edges", required=True)
    lv.add_argument("--out", required=True)
    lv.add_argument("--checkpoint")
    lv.add_argument("--resume", action="store_true")
    lv.add_argument("--anneal", action="store_true")
    lv.add_argument(
        "--engine",
        choices=["auto", "barrier", "sql"],
        default="auto",
        help="superstep engine (auto: barrier while dense ids fit memory, "
        "else sql; sql also when barrier scheduling is unavailable)",
    )
    lv.add_argument(
        "--local-threshold",
        type=int,
        default=1_500_000,
        help="a level of at most this many symmetric edge rows runs in the "
        "driver, a larger one on the superstep engine (0: every non-empty "
        "level on the superstep engine)",
    )
    lv.add_argument(
        "--refine-levels",
        action="store_true",
        help="Leiden-style connectivity refinement per level: split every "
        "internally-disconnected community into its connected parts "
        "before coarsening (never decreases Q)",
    )
    lv.add_argument(
        "--skew-salt",
        type=int,
        default=0,
        help="S>1 salts the sql engine's community-keyed sweep join so a "
        "mega-community spreads over S tasks (placement-only; 0=off)",
    )

    pr = sub.add_parser("pagerank")
    pr.add_argument("--edges", required=True)
    pr.add_argument("--out", required=True)
    pr.add_argument("--iters", type=int, default=20)
    pr.add_argument("--damping", type=float, default=0.85)
    pr.add_argument(
        "--seeds",
        help="comma-separated vertex ids: personalized PageRank with a "
        "uniform teleport distribution over the seed set (default: "
        "classic uniform over all vertices)",
    )

    cc = sub.add_parser("components")
    cc.add_argument("--edges", required=True)
    cc.add_argument("--out", required=True)

    lp = sub.add_parser("lpa")
    lp.add_argument("--edges", required=True)
    lp.add_argument("--out", required=True)
    lp.add_argument("--iters", type=int, default=20)

    tr = sub.add_parser("triangles")
    tr.add_argument("--edges", required=True)
    tr.add_argument(
        "--coefficients",
        help="also write per-vertex local clustering coefficients here",
    )
    tr.add_argument(
        "--clique4", action="store_true",
        help="also count 4-cliques (K4 motifs)",
    )
    tr.add_argument(
        "--census", action="store_true",
        help="treat the edges as DIRECTED and print the triad census "
        "(cyclic / transitive / mixed triangle counts) instead",
    )

    cu = sub.add_parser(
        "curate",
        help="deterministic dataset curation: hash train/val/test split "
        "and per-stratum caps over any parquet table",
    )
    cu.add_argument("--input", required=True, help="parquet table")
    cu.add_argument("--out", required=True)
    cu.add_argument(
        "--id-col", default="doc_id",
        help="stable non-negative integer id column the hash keys on",
    )
    cu.add_argument(
        "--split", default=None,
        help="comma-separated integer weights, e.g. 98,1,1 — adds a "
        "'split' column",
    )
    cu.add_argument(
        "--labels", default="train,val,test",
        help="split labels aligned with --split weights",
    )
    cu.add_argument(
        "--stratify-col", default=None,
        help="with --topk: keep at most K rows per value of this column",
    )
    cu.add_argument("--topk", type=int, default=None)
    cu.add_argument("--seed", type=int, default=0)

    lp2 = sub.add_parser(
        "linkpred",
        help="link prediction: common-neighbor / Adamic-Adar scores for "
        "2-hop pairs (existing edges excluded by default)",
    )
    lp2.add_argument("--edges", required=True)
    lp2.add_argument("--out", required=True)
    lp2.add_argument(
        "--max-degree", type=int, default=10_000,
        help="hub cap on wedge centers (dropped-center count is printed; "
        "0 disables the cap)",
    )
    lp2.add_argument("--min-common", type=int, default=1)
    lp2.add_argument(
        "--include-adjacent", action="store_true",
        help="also score pairs that are already edges (embeddedness)",
    )

    km = sub.add_parser(
        "rmat",
        help="deterministic Graph500 RMAT synthetic edge stream "
        "(SURVEY S3: the reference's declared-but-unbuilt from_kronecker)",
    )
    km.add_argument("--out", required=True)
    km.add_argument("--scale", type=int, required=True,
                    help="2^scale vertices, edgefactor*2^scale edges")
    km.add_argument("--edgefactor", type=int, default=16)
    km.add_argument("--seed", type=int, default=0)
    km.add_argument(
        "--permute", action="store_true",
        help="bijectively relabel vertices so degree skew is not "
        "aligned with id order",
    )
    km.add_argument(
        "--num-partitions", type=int, default=None,
        help="range-source partitions (default: spark default parallelism)",
    )

    kc = sub.add_parser("kcore", help="k-core membership by peeling")
    kc.add_argument("--edges", required=True)
    kc.add_argument("--out", required=True)
    kc.add_argument("--k", type=int, required=True)
    kc.add_argument(
        "--max-iter",
        type=int,
        default=None,
        help="optional bound on peel rounds (raises if exhausted before "
        "the fixpoint; default: peel to fixpoint, O(|V|) rounds worst case)",
    )

    cn = sub.add_parser(
        "coreness", help="full k-core decomposition (per-vertex core number)"
    )
    cn.add_argument("--edges", required=True)
    cn.add_argument("--out", required=True)
    cn.add_argument(
        "--max-k",
        type=int,
        default=None,
        help="clamp core numbers at this k (survivors report max-k)",
    )
    cn.add_argument("--max-iter", type=int, default=None)

    ms = sub.add_parser(
        "msf", help="minimum spanning forest (Boruvka rounds)"
    )
    ms.add_argument("--edges", required=True)
    ms.add_argument("--out", required=True)
    ms.add_argument(
        "--max-iter",
        type=int,
        default=None,
        help="optional bound on Boruvka rounds (raises if exhausted "
        "before the fixpoint; default: run to fixpoint, <= log2(|V|) "
        "rounds — components at least halve per round)",
    )
    ms.add_argument(
        "--cut",
        type=float,
        default=None,
        help="also emit the single-linkage clustering at this distance "
        "threshold (clusters = components of forest edges with w <= cut)",
    )
    ms.add_argument(
        "--clusters-out",
        default=None,
        help="output path for the --cut clustering (required with --cut)",
    )

    sp = sub.add_parser(
        "sssp",
        help="multi-source shortest paths (Bellman-Ford relaxation rounds)",
    )
    sp.add_argument("--edges", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument(
        "--sources",
        required=True,
        help="comma-separated landmark/source vertex ids",
    )
    sp.add_argument(
        "--hops",
        action="store_true",
        help="unit weights (hop counts) instead of the weight column",
    )
    sp.add_argument(
        "--directed",
        action="store_true",
        help="relax along src->dst as given instead of symmetrizing",
    )
    sp.add_argument(
        "--max-iter",
        type=int,
        default=None,
        help="optional bound on relaxation rounds (raises if exhausted "
        "before the fixpoint; default: relax to fixpoint, < |V| rounds)",
    )

    sc = sub.add_parser(
        "scc",
        help="strongly connected components of the directed graph "
        "(trim + forward-coloring + backward match)",
    )
    sc.add_argument("--edges", required=True)
    sc.add_argument("--out", required=True)
    sc.add_argument("--max-iter", type=int, default=None)
    sc.add_argument(
        "--condensation",
        action="store_true",
        help="emit the condensation DAG (distinct cross-SCC edges, "
        "components labeled by min member id) instead of vertex labels",
    )

    bt = sub.add_parser(
        "bowtie",
        help="Broder bow-tie census of the directed graph (CORE/IN/OUT/"
        "TUBE/TENDRIL_IN/TENDRIL_OUT/DISCONNECTED relative to the giant "
        "SCC)",
    )
    bt.add_argument("--edges", required=True)
    bt.add_argument("--out", required=True)
    bt.add_argument("--max-iter", type=int, default=None)

    tp = sub.add_parser(
        "topo",
        help="longest-path topological levels of a DAG (raises on "
        "cycles; run `scc --condensation` first to collapse them)",
    )
    tp.add_argument("--edges", required=True)
    tp.add_argument("--out", required=True)

    bw = sub.add_parser(
        "betweenness",
        help="sampled / hop-truncated betweenness centrality "
        "(level-synchronous Brandes from explicit source vertices)",
    )
    bw.add_argument("--edges", required=True)
    bw.add_argument("--out", required=True)
    bw.add_argument(
        "--sources",
        required=True,
        help="comma-separated source sample (Brandes-Pich estimator); "
        "pass every vertex for the exact small-graph value",
    )
    bw.add_argument(
        "--max-hops",
        type=int,
        default=None,
        help="truncate to shortest paths of length <= k (k-betweenness); "
        "default: untruncated",
    )
    bw.add_argument(
        "--directed",
        action="store_true",
        help="count src->dst paths as given instead of symmetrizing",
    )

    wk = sub.add_parser(
        "walks",
        help="deterministic DeepWalk-style random walks (seeded hash; "
        "bit-reproducible)",
    )
    wk.add_argument("--edges", required=True)
    wk.add_argument("--out", required=True)
    wk.add_argument("--length", type=int, default=40)
    wk.add_argument("--per-vertex", type=int, default=1)
    wk.add_argument("--seed", type=int, default=0)
    wk.add_argument(
        "--sentences", action="store_true",
        help="write (walk_id, sentence array<long>) corpus lines instead "
        "of (walk_id, step, vtx) rows",
    )
    wk.add_argument(
        "--node2vec",
        help="second-order biased walks: three comma-separated integer "
        "weights RETURN,STAY,EXPLORE (the node2vec 1/p, 1, 1/q with "
        "denominators cleared), e.g. 1,4,1",
    )

    ns = sub.add_parser(
        "sample",
        help="GraphSAGE-style k-hop neighbor sampling (seeded hash top-k "
        "per frontier vertex; bit-reproducible)",
    )
    ns.add_argument("--edges", required=True)
    ns.add_argument("--out", required=True)
    ns.add_argument(
        "--fanouts", required=True,
        help="comma-separated per-hop fanouts, e.g. 25,10",
    )
    ns.add_argument(
        "--seeds",
        help="optional parquet of starting vertex ids (first column); "
        "default = every non-isolated vertex",
    )
    ns.add_argument("--seed", type=int, default=0)

    mi = sub.add_parser(
        "mis",
        help="deterministic Luby maximal independent set, or "
        "Jones-Plassmann greedy coloring with --coloring",
    )
    mi.add_argument("--edges", required=True)
    mi.add_argument("--out", required=True)
    mi.add_argument("--seed", type=int, default=0)
    mi.add_argument("--max-iter", type=int, default=None)
    mi.add_argument(
        "--coloring", action="store_true",
        help="emit (vtx, color) independent color classes instead of "
        "one maximal independent set",
    )

    tu = sub.add_parser(
        "truss", help="k-truss subgraph / per-edge triangle support"
    )
    tu.add_argument("--edges", required=True)
    tu.add_argument("--out", required=True)
    tu.add_argument(
        "--k", type=int, default=None,
        help="peel to the k-truss fixpoint; omit to just write per-edge "
        "triangle support",
    )
    tu.add_argument(
        "--max-iter", type=int, default=None,
        help="optional bound on peel rounds (raises if exhausted before "
        "the fixpoint)",
    )

    wl = sub.add_parser(
        "wl",
        help="Weisfeiler-Lehman color refinement: structural vertex "
        "roles (vtx, color) and the graph's 1-WL fingerprint",
    )
    wl.add_argument("--edges", required=True)
    wl.add_argument("--out", required=True)
    wl.add_argument(
        "--rounds", type=int, default=None,
        help="fixed refinement rounds; omit to refine to the stable "
        "partition",
    )
    wl.add_argument(
        "--max-iter", type=int, default=50,
        help="stability-mode bound on rounds (raises if exhausted)",
    )

    mt = sub.add_parser(
        "metrics",
        help="whole-graph diagnostics: degree assortativity, optional "
        "partition conductance and ANF/effective diameter",
    )
    mt.add_argument("--edges", required=True)
    mt.add_argument(
        "--assignment",
        help="parquet with (vtx, community) — e.g. a louvain/lpa output; "
        "enables per-community cut metrics",
    )
    mt.add_argument(
        "--out", help="where partition-quality parquet goes (with --assignment)"
    )
    mt.add_argument(
        "--anf-hops", type=int, default=0,
        help="also compute the neighborhood function to this many hops "
        "(0 = skip) and report the 90%% effective diameter",
    )
    mt.add_argument(
        "--anf-method", choices=["hll", "exact"], default="hll",
        help="hll = HyperBall sketches (the at-scale path); exact "
        "materializes ball membership (small graphs only)",
    )
    mt.add_argument("--lg-k", type=int, default=12, help="HLL sketch size")
    mt.add_argument(
        "--harmonic-hops", type=int, default=0,
        help="also write per-vertex truncated harmonic centrality to "
        "--harmonic-out (0 = skip; same --anf-method/--lg-k knobs)",
    )
    mt.add_argument("--harmonic-out")
    mt.add_argument(
        "--rich-club",
        help="comma-separated degree thresholds, e.g. 1,10,100 — reports "
        "club size, internal edges and density phi(k) per threshold",
    )
    mt.add_argument(
        "--degree-hist", action="store_true",
        help="also report the exact degree histogram (bounded at "
        "O(sqrt(2|E|)) rows, safe to print at any scale)",
    )
    mt.add_argument(
        "--summary", action="store_true",
        help="also report the one-row graph census (n, m, self-loops, "
        "max/avg degree, density)",
    )
    mt.add_argument(
        "--reciprocity", action="store_true",
        help="also report directed-edge reciprocity (fraction of edges "
        "whose reverse is present; 1.0 on a symmetric table)",
    )

    cp = sub.add_parser(
        "compare",
        help="partition agreement: ARI + NMI between two assignments "
        "(e.g. louvain vs lpa outputs)",
    )
    cp.add_argument("--a", required=True, help="parquet with (vtx, comm)")
    cp.add_argument("--b", required=True, help="parquet with (vtx, comm)")

    rf = sub.add_parser(
        "refine",
        help="Leiden-style connectivity refinement: split every community "
        "whose induced subgraph is disconnected into its connected parts "
        "(never decreases modularity)",
    )
    rf.add_argument("--edges", required=True)
    rf.add_argument(
        "--assignment", required=True,
        help="parquet with (vtx, comm) or (vtx, community) — e.g. a "
        "louvain/lpa output",
    )
    rf.add_argument("--out", required=True)
    rf.add_argument("--max-iter", type=int, default=50)

    ce = sub.add_parser(
        "centrality",
        help="per-vertex centralities: eigenvector (power iteration), "
        "HITS hub/authority (directed), closeness (HyperBall)",
    )
    ce.add_argument("--edges", required=True)
    ce.add_argument("--out", required=True)
    ce.add_argument(
        "--kind",
        choices=["eigenvector", "hits", "closeness"],
        default="eigenvector",
    )
    ce.add_argument("--iters", type=int, default=20)
    ce.add_argument(
        "--tol", type=float, default=1e-6,
        help="power-iteration convergence threshold (eigenvector/hits); "
        "0 runs exactly --iters fixed rounds",
    )
    ce.add_argument(
        "--hops", type=int, default=8,
        help="closeness truncation radius (closeness only)",
    )
    ce.add_argument(
        "--method", choices=["hll", "exact"], default="hll",
        help="closeness ball counting: hll = HyperBall sketches (the "
        "at-scale path), exact = materialized balls (small graphs)",
    )
    ce.add_argument("--lg-k", type=int, default=12, help="HLL sketch size")

    dd = sub.add_parser("dedup", help="near/exact duplicate pairs or groups")
    dd.add_argument("--docs", required=True, help="parquet with doc_id, text")
    dd.add_argument("--out", required=True)
    dd.add_argument(
        "--method",
        choices=["exact", "minhash", "simhash", "jaccard", "clusters"],
        default="minhash",
    )
    dd.add_argument("--threshold", type=float, default=0.7)
    dd.add_argument("--max-hamming", type=int, default=3)
    dd.add_argument(
        "--kept-corpus",
        help="with --method clusters: also write the deduplicated "
        "documents table (keeper per transitive near-dup cluster) here",
    )

    kn = sub.add_parser("knn", help="top-k similarity search over embeddings")
    kn.add_argument("--embeddings", required=True, help="parquet with vec_id, embedding")
    kn.add_argument("--out", required=True)
    kn.add_argument("--k", type=int, default=10)
    kn.add_argument("--method", choices=["brute", "lsh", "ivf"], default="lsh")
    kn.add_argument("--dim", type=int, help="embedding dimensionality (skips infer job)")

    pk = sub.add_parser(
        "pack",
        help="concat-and-chunk sequence packing over a documents table "
        "(one row per document x sequence incidence)",
    )
    pk.add_argument("--docs", required=True)
    pk.add_argument("--out", required=True)
    pk.add_argument("--budget", type=int, required=True,
                    help="tokens per packed sequence")
    pk.add_argument("--shards", type=int, default=1)
    pk.add_argument("--seed", type=int, default=0)
    pk.add_argument(
        "--tokens-col", default=None,
        help="precomputed token-count column (default: whitespace count "
        "of --text-col)",
    )
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--id-col", default="doc_id")

    tp = sub.add_parser(
        "temporal",
        help="contact-graph build + time-respecting earliest-arrival "
        "reachability over an event log",
    )
    tp.add_argument("--events", required=True)
    tp.add_argument("--out", required=True)
    tp.add_argument("--bucket-seconds", type=int, default=600)
    tp.add_argument("--max-group", type=int, default=1000)
    tp.add_argument(
        "--seeds",
        help="comma-separated seed vertex ids; when given, --out receives "
        "the (vtx, t_arr) reachability instead of the contact edges",
    )
    tp.add_argument("--max-iter", type=int, default=None)
    tp.add_argument("--user-col", default="user_id")
    tp.add_argument("--key-col", default="event_type")
    tp.add_argument("--ts-col", default="ts")

    eb = sub.add_parser(
        "embstats",
        help="embedding-column statistics: per-dimension moments, "
        "covariance, PCA projection, int8 quantization",
    )
    eb.add_argument("--embeddings", required=True)
    eb.add_argument("--out", required=True)
    eb.add_argument(
        "--op",
        choices=["moments", "covariance", "pca", "quantize"],
        default="moments",
    )
    eb.add_argument("--k", type=int, default=2, help="PCA components")
    eb.add_argument("--id-col", default="vec_id")
    eb.add_argument("--vec-col", default="embedding")

    bl = sub.add_parser(
        "bloom",
        help="deterministic bloom semi-join prefilter: keep probe rows "
        "whose key may be in the build set (no false negatives)",
    )
    bl.add_argument("--probe", required=True, help="probe-side parquet")
    bl.add_argument("--build", required=True, help="build-side parquet")
    bl.add_argument("--out", required=True)
    bl.add_argument("--probe-key", required=True)
    bl.add_argument("--build-key", required=True)
    bl.add_argument("--m-bits", type=int, default=1 << 20)
    bl.add_argument("--probes", type=int, default=4)
    bl.add_argument("--seed", type=int, default=9001)

    ig = sub.add_parser(
        "ingest",
        help="incremental edge maintenance: merge a corpus batch into "
        "existing shared-content edges (delta == full rebuild)",
    )
    ig.add_argument("--batch", required=True, help="new corpus rows parquet")
    ig.add_argument("--out-edges", required=True)
    ig.add_argument("--out-postings", required=True)
    ig.add_argument(
        "--old-edges", help="existing edge table (omit to bootstrap)"
    )
    ig.add_argument(
        "--old-postings", help="existing postings state (omit to bootstrap)"
    )
    ig.add_argument("--node", default="repo")
    ig.add_argument("--content-col", default="content")
    ig.add_argument("--max-group", type=int, default=1000)

    igs = sub.add_parser(
        "ingest-stream",
        help="continuous edge maintenance: watch a corpus directory and "
        "merge each micro-batch into versioned edge state",
    )
    igs.add_argument("--src", required=True, help="corpus parquet dir to watch")
    igs.add_argument("--state-dir", required=True)
    igs.add_argument("--checkpoint", required=True)
    igs.add_argument(
        "--once",
        action="store_true",
        help="process the files currently present, then exit (default: "
        "run until interrupted)",
    )
    igs.add_argument("--node", default="repo")
    igs.add_argument("--content-col", default="content")
    igs.add_argument("--max-group", type=int, default=1000)

    sf = sub.add_parser(
        "sparsify",
        help="degree-bounding sparsifier: keep each vertex's k heaviest "
        "incident edges (union semantics)",
    )
    sf.add_argument("--edges", required=True)
    sf.add_argument("--out", required=True)
    sf.add_argument("--k", type=int, required=True)
    sf.add_argument("--weight-col", default="weight")

    ac = sub.add_parser(
        "assoc",
        help="re-weight co-occurrence edges by set overlap "
        "(jaccard/dice/cosine) from the postings state",
    )
    ac.add_argument("--edges", required=True)
    ac.add_argument("--postings", required=True)
    ac.add_argument("--out", required=True)

    df_p = sub.add_parser(
        "diff",
        help="edge-level diff of two edge tables, or of two applied "
        "ingest-state versions",
    )
    df_p.add_argument("--out", required=True)
    df_p.add_argument("--old")
    df_p.add_argument("--new")
    df_p.add_argument("--state-dir")
    df_p.add_argument("--v-old", type=int)
    df_p.add_argument("--v-new", type=int)

    tx = sub.add_parser("text", help="text analysis over a documents table")
    tx.add_argument("--docs", required=True)
    tx.add_argument("--out", required=True)
    tx.add_argument(
        "--op",
        choices=["tokens", "quality", "langid", "fingerprints"],
        default="tokens",
    )

    args = p.parse_args(argv)
    spark = _spark(f"plm-{args.cmd}")

    from parallel_louvain_method_spark.sources.edges import read_edge_parquet

    if args.cmd == "build-graph":
        from parallel_louvain_method_spark.sources.corpus import (
            build_file_graph,
            densify,
            read_corpus,
            shared_content_edges,
        )

        corpus = read_corpus(spark, args.corpus)
        if args.link == "sha256":
            str_edges, dropped = shared_content_edges(
                corpus, node_col=args.node, max_group=args.max_group
            )
            edges, mapping = densify(str_edges)
        else:
            edges, mapping, dropped = build_file_graph(corpus, args.max_group)
        edges.write.mode("overwrite").parquet(f"{args.out}/edges")
        mapping.write.mode("overwrite").parquet(f"{args.out}/id_map")
        n_dropped = dropped.count()
        print(json.dumps({"edges": edges.count(), "dropped_groups": n_dropped}))
    elif args.cmd == "louvain":
        from parallel_louvain_method_spark.operators.louvain import louvain

        res = louvain(
            spark,
            read_edge_parquet(spark, args.edges),
            anneal=args.anneal,
            checkpoint_dir=args.checkpoint,
            resume=args.resume,
            local_threshold=args.local_threshold,
            superstep_engine=args.engine,
            skew_salt=args.skew_salt,
            refine_levels=args.refine_levels,
        )
        res.assignment.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {
                    "modularity": res.modularity,
                    "levels": [vars(lv) for lv in res.levels],
                }
            )
        )
    elif args.cmd == "pagerank":
        from parallel_louvain_method_spark.operators.graph import symmetric_edges
        from parallel_louvain_method_spark.operators.pagerank import pagerank

        reset = None
        if args.seeds:
            # dedupe: both engines reject a reset table that names a
            # vertex twice
            seeds = sorted(
                {int(v) for v in args.seeds.split(",") if v.strip()}
            )
            if not seeds:
                raise SystemExit("--seeds: no vertex ids given")
            reset = spark.createDataFrame(
                [(v, 1.0 / len(seeds)) for v in seeds], "vtx long, p double"
            )
        ranks = pagerank(
            symmetric_edges(read_edge_parquet(spark, args.edges)),
            damping=args.damping,
            max_iter=args.iters,
            reset=reset,
        )
        ranks.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": ranks.count()}))
    elif args.cmd == "components":
        from parallel_louvain_method_spark.operators.components import (
            connected_components,
        )

        cc_df = connected_components(read_edge_parquet(spark, args.edges))
        cc_df.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {"components": cc_df.select("component").distinct().count()}
            )
        )
    elif args.cmd == "lpa":
        from parallel_louvain_method_spark.operators.labelprop import (
            label_propagation,
        )

        labels = label_propagation(
            read_edge_parquet(spark, args.edges), max_iter=args.iters
        )
        labels.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"labels": labels.select("label").distinct().count()}))
    elif args.cmd == "triangles":
        from parallel_louvain_method_spark.operators.triangles import (
            clustering_coefficient,
            triangle_count,
        )

        tr_edges = read_edge_parquet(spark, args.edges)
        if args.census:
            from parallel_louvain_method_spark.operators.triangles import (
                triad_census,
            )

            row = triad_census(tr_edges).first()
            print(
                json.dumps(
                    {
                        "n_cyclic": row["n_cyclic"],
                        "n_transitive": row["n_transitive"],
                        "n_mixed": row["n_mixed"],
                    }
                )
            )
        elif args.coefficients:
            # one enumeration serves both outputs: the coefficient path's
            # per-vertex triangle counts sum to 3x the global count (each
            # triangle contributes one to each of its three vertices)
            coeffs = clustering_coefficient(
                tr_edges, include_triangles=True
            ).persist()
            coeffs.select("vtx", "coeff").write.mode("overwrite").parquet(
                args.coefficients
            )
            n_tri = int(
                (coeffs.agg(F.sum("triangles")).first()[0] or 0) // 3
            )
            coeffs.unpersist()
            print(json.dumps({"triangles": n_tri}))
        else:
            report = {"triangles": triangle_count(tr_edges)}
            if args.clique4:
                from parallel_louvain_method_spark.operators.triangles import (
                    clique4_count,
                )

                report["clique4"] = clique4_count(tr_edges)
            print(json.dumps(report))
    elif args.cmd == "curate":
        from parallel_louvain_method_spark.operators.sampling import (
            hash_split,
            stratified_topk,
        )

        if not args.split and not (args.stratify_col and args.topk):
            raise SystemExit(
                "curate: pass --split W,W,... and/or "
                "--stratify-col COL --topk K"
            )
        tbl = spark.read.parquet(args.input)
        info: dict = {}
        if args.stratify_col and args.topk:
            before = tbl.count()
            tbl = stratified_topk(
                tbl, args.stratify_col, args.id_col, args.topk, seed=args.seed
            )
            info["kept"] = tbl.count()
            info["dropped"] = before - info["kept"]
        if args.split:
            weights = tuple(int(x) for x in args.split.split(","))
            labels = tuple(args.labels.split(","))
            tbl = hash_split(
                tbl, args.id_col, weights=weights, labels=labels,
                seed=args.seed,
            )
        tbl.write.mode("overwrite").parquet(args.out)
        if args.split:
            out = spark.read.parquet(args.out)
            info["splits"] = {
                r["split"]: r["count"]
                for r in out.groupBy("split").count().collect()
            }
        print(json.dumps(info))
    elif args.cmd == "linkpred":
        from parallel_louvain_method_spark.operators.linkpred import (
            adamic_adar,
        )

        pairs, dropped = adamic_adar(
            read_edge_parquet(spark, args.edges),
            max_degree=args.max_degree or None,
            min_common=args.min_common,
            exclude_adjacent=not args.include_adjacent,
        )
        pairs.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {"pairs": pairs.count(), "dropped_centers": dropped}
            )
        )
    elif args.cmd == "rmat":
        from parallel_louvain_method_spark.sources.kronecker import (
            kronecker_edges,
        )

        stream = kronecker_edges(
            spark,
            scale=args.scale,
            edgefactor=args.edgefactor,
            seed=args.seed,
            permute=args.permute,
            num_partitions=args.num_partitions,
        )
        stream.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "edges": args.edgefactor << args.scale,
            "vertices": 1 << args.scale,
        }))
    elif args.cmd == "kcore":
        from parallel_louvain_method_spark.operators.kcore import kcore

        members = kcore(
            read_edge_parquet(spark, args.edges),
            k=args.k,
            max_iter=args.max_iter,
        )
        members.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"k": args.k, "core_size": members.count()}))
    elif args.cmd == "coreness":
        from parallel_louvain_method_spark.operators.kcore import coreness

        cores = coreness(
            read_edge_parquet(spark, args.edges),
            max_k=args.max_k,
            max_iter=args.max_iter,
        )
        cores.write.mode("overwrite").parquet(args.out)
        # stats from the just-written parquet: the decomposition plan's
        # un-checkpointed tail (up to 7 union/anti-join stages) would
        # otherwise re-execute once per action
        cores = spark.read.parquet(args.out)
        print(
            json.dumps(
                {
                    "vertices": cores.count(),
                    "max_coreness": int(
                        cores.agg(F.max("coreness")).first()[0] or 0
                    ),
                }
            )
        )
    elif args.cmd == "wl":
        from parallel_louvain_method_spark.operators.wl import wl_colors

        res = wl_colors(
            read_edge_parquet(spark, args.edges),
            rounds=args.rounds,
            max_iter=args.max_iter,
        )
        res.colors.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {
                    "rounds_run": res.rounds_run,
                    "n_colors": res.n_colors,
                    "converged": res.converged,
                }
            )
        )
    elif args.cmd == "msf":
        from parallel_louvain_method_spark.operators.msf import (
            minimum_spanning_forest,
            single_linkage,
        )

        if args.cut is not None and not args.clusters_out:
            raise SystemExit("--cut requires --clusters-out")
        edges_df = read_edge_parquet(spark, args.edges)
        forest = minimum_spanning_forest(edges_df, max_iter=args.max_iter)
        forest.write.mode("overwrite").parquet(args.out)
        forest = spark.read.parquet(args.out)
        stats = {
            "forest_edges": forest.count(),
            "total_weight": float(
                forest.agg(F.sum("w")).first()[0] or 0.0
            ),
        }
        if args.cut is not None:
            clusters = single_linkage(edges_df, args.cut, forest=forest)
            clusters.write.mode("overwrite").parquet(args.clusters_out)
            clusters = spark.read.parquet(args.clusters_out)
            stats["cut"] = args.cut
            stats["clusters"] = clusters.select("cluster").distinct().count()
        print(json.dumps(stats))
    elif args.cmd == "sssp":
        from parallel_louvain_method_spark.operators.paths import (
            shortest_paths,
        )

        dists = shortest_paths(
            read_edge_parquet(spark, args.edges),
            sources=[int(s) for s in args.sources.split(",") if s.strip()],
            weighted=not args.hops,
            directed=args.directed,
            max_iter=args.max_iter,
        )
        dists.write.mode("overwrite").parquet(args.out)
        dists = spark.read.parquet(args.out)
        print(
            json.dumps(
                {
                    "reached_pairs": dists.count(),
                    "max_dist": float(
                        dists.agg(F.max("dist")).first()[0] or 0.0
                    ),
                }
            )
        )
    elif args.cmd == "scc":
        from parallel_louvain_method_spark.operators.scc import (
            condensation,
            strongly_connected_components,
        )

        if args.condensation:
            dag = condensation(
                read_edge_parquet(spark, args.edges), max_iter=args.max_iter
            )
            dag.write.mode("overwrite").parquet(args.out)
            dag = spark.read.parquet(args.out)
            print(json.dumps({"dag_edges": dag.count()}))
        else:
            comps = strongly_connected_components(
                read_edge_parquet(spark, args.edges), max_iter=args.max_iter
            )
            comps.write.mode("overwrite").parquet(args.out)
            comps = spark.read.parquet(args.out)
            print(
                json.dumps(
                    {
                        "vertices": comps.count(),
                        "components": comps.select("component")
                        .distinct()
                        .count(),
                    }
                )
            )
    elif args.cmd == "bowtie":
        from parallel_louvain_method_spark.operators.scc import (
            bowtie_decomposition,
        )

        regions = bowtie_decomposition(
            read_edge_parquet(spark, args.edges), max_iter=args.max_iter
        )
        regions.write.mode("overwrite").parquet(args.out)
        regions = spark.read.parquet(args.out)
        counts = {
            r["region"]: r["count"]
            for r in regions.groupBy("region").count().collect()
        }
        print(json.dumps({"regions": counts}, sort_keys=True))
    elif args.cmd == "topo":
        from parallel_louvain_method_spark.operators.dag import (
            topological_levels,
        )

        levels = topological_levels(read_edge_parquet(spark, args.edges))
        levels.write.mode("overwrite").parquet(args.out)
        levels = spark.read.parquet(args.out)
        print(
            json.dumps(
                {
                    "vertices": levels.count(),
                    "depth": int(levels.agg(F.max("level")).first()[0] or 0),
                }
            )
        )
    elif args.cmd == "betweenness":
        from parallel_louvain_method_spark.operators.betweenness import (
            betweenness_centrality,
        )

        btw = betweenness_centrality(
            read_edge_parquet(spark, args.edges),
            sources=[int(s) for s in args.sources.split(",") if s.strip()],
            max_hops=args.max_hops,
            directed=args.directed,
        )
        btw.write.mode("overwrite").parquet(args.out)
        btw = spark.read.parquet(args.out)
        print(
            json.dumps(
                {
                    "vertices": btw.count(),
                    "max_btw": float(btw.agg(F.max("btw")).first()[0] or 0.0),
                }
            )
        )
    elif args.cmd == "walks":
        from parallel_louvain_method_spark.operators.walks import (
            random_walks,
            walk_sentences,
        )

        if args.node2vec:
            from parallel_louvain_method_spark.operators.walks import (
                node2vec_walks,
            )

            wr, ws, we = (int(x) for x in args.node2vec.split(","))
            wk_df = node2vec_walks(
                read_edge_parquet(spark, args.edges),
                walk_length=args.length,
                w_return=wr, w_stay=ws, w_explore=we,
                walks_per_vertex=args.per_vertex,
                seed=args.seed,
            )
        else:
            wk_df = random_walks(
                read_edge_parquet(spark, args.edges),
                walk_length=args.length,
                walks_per_vertex=args.per_vertex,
                seed=args.seed,
            )
        if args.sentences:
            wk_df = walk_sentences(wk_df)
        wk_df.write.mode("overwrite").parquet(args.out)
        n_walks = (
            spark.read.parquet(args.out)
            .select("walk_id").distinct().count()
        )
        print(json.dumps({"walks": n_walks, "length": args.length}))
    elif args.cmd == "sample":
        from parallel_louvain_method_spark.operators.walks import (
            neighbor_sample,
        )

        fanouts = [int(x) for x in args.fanouts.split(",") if x.strip()]
        ns_df = neighbor_sample(
            read_edge_parquet(spark, args.edges),
            fanouts,
            seeds=spark.read.parquet(args.seeds) if args.seeds else None,
            seed=args.seed,
        )
        ns_df.write.mode("overwrite").parquet(args.out)
        hop_counts = {
            int(r["hop"]): int(r["n"])
            for r in spark.read.parquet(args.out)
            .groupBy("hop").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({"fanouts": fanouts, "edges_per_hop": hop_counts}))
    elif args.cmd == "mis":
        from parallel_louvain_method_spark.operators.mis import (
            greedy_coloring,
            maximal_independent_set,
        )

        mi_edges = read_edge_parquet(spark, args.edges)
        if args.coloring:
            mi_df = greedy_coloring(
                mi_edges, seed=args.seed, max_iter=args.max_iter
            )
            mi_df.write.mode("overwrite").parquet(args.out)
            back = spark.read.parquet(args.out)
            print(json.dumps({
                "colored": back.count(),
                "colors": back.agg(F.countDistinct("color")).first()[0],
            }))
        else:
            mi_df = maximal_independent_set(
                mi_edges, seed=args.seed, max_iter=args.max_iter
            )
            mi_df.write.mode("overwrite").parquet(args.out)
            print(json.dumps(
                {"mis_size": spark.read.parquet(args.out).count()}
            ))
    elif args.cmd == "truss":
        from parallel_louvain_method_spark.operators.truss import (
            edge_support,
            ktruss,
        )

        tu_edges = read_edge_parquet(spark, args.edges)
        tu_df = (
            ktruss(tu_edges, args.k, max_iter=args.max_iter)
            if args.k is not None  # --k 0 must reach ktruss's k>=2 raise
            else edge_support(tu_edges)
        )
        tu_df.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps({"edges": spark.read.parquet(args.out).count()})
        )
    elif args.cmd == "metrics":
        from parallel_louvain_method_spark.operators.metrics import (
            degree_assortativity,
            effective_diameter,
            neighborhood_function,
            partition_quality,
        )

        mt_edges = read_edge_parquet(spark, args.edges)
        report: dict = {
            "assortativity": degree_assortativity(mt_edges).first()[
                "assortativity"
            ]
        }
        if args.assignment:
            if not args.out:
                p.error("--assignment requires --out")
            pq = partition_quality(
                mt_edges, spark.read.parquet(args.assignment)
            )
            pq.write.mode("overwrite").parquet(args.out)
            # stats off the just-written parquet, not a plan re-execution
            pq = spark.read.parquet(args.out)
            stats = pq.agg(
                F.count("*").alias("n"),
                F.max("conductance").alias("worst"),
                F.sum("modularity").alias("q"),
            ).first()
            report["n_communities"] = stats["n"]
            report["worst_conductance"] = stats["worst"]
            report["modularity"] = stats["q"]
        if args.anf_hops > 0:
            nf = neighborhood_function(
                spark, mt_edges, args.anf_hops,
                method=args.anf_method, lg_k=args.lg_k,
            )
            report["neighborhood_function"] = {
                str(r["h"]): r["n_pairs"] for r in sorted(nf.collect())
            }
            report["effective_diameter_90"] = effective_diameter(nf)
        if args.harmonic_hops > 0:
            if not args.harmonic_out:
                p.error("--harmonic-hops requires --harmonic-out")
            from parallel_louvain_method_spark.operators.metrics import (
                harmonic_centrality,
            )

            harmonic_centrality(
                mt_edges, args.harmonic_hops,
                method=args.anf_method, lg_k=args.lg_k,
            ).write.mode("overwrite").parquet(args.harmonic_out)
            report["harmonic_vertices"] = (
                spark.read.parquet(args.harmonic_out).count()
            )
        if args.rich_club:
            from parallel_louvain_method_spark.operators.metrics import (
                rich_club,
            )

            ks = [int(x) for x in args.rich_club.split(",") if x.strip()]
            report["rich_club"] = {
                str(r["k"]): {"n": r["n_k"], "e": r["e_k"], "phi": r["phi"]}
                for r in rich_club(mt_edges, ks).collect()
            }
        if args.degree_hist:
            from parallel_louvain_method_spark.operators.metrics import (
                degree_histogram,
            )

            report["degree_histogram"] = {
                str(r["degree"]): r["n_vertices"]
                for r in sorted(degree_histogram(mt_edges).collect())
            }
        if args.summary:
            from parallel_louvain_method_spark.operators.metrics import (
                graph_summary,
            )

            report["summary"] = graph_summary(mt_edges).first().asDict()
        if args.reciprocity:
            from parallel_louvain_method_spark.operators.metrics import (
                reciprocity,
            )

            report["reciprocity"] = reciprocity(mt_edges).first().asDict()
        print(json.dumps(report))
    elif args.cmd == "compare":
        from parallel_louvain_method_spark.operators.metrics import (
            partition_compare,
        )

        def _load_assign(path):
            df = spark.read.parquet(path)
            if "comm" not in df.columns and "community" in df.columns:
                df = df.withColumnRenamed("community", "comm")
            return df

        print(
            json.dumps(
                partition_compare(
                    _load_assign(args.a), _load_assign(args.b)
                )
                .first()
                .asDict()
            )
        )
    elif args.cmd == "refine":
        from parallel_louvain_method_spark.operators.components import (
            refine_communities,
        )

        rf_assign = spark.read.parquet(args.assignment)
        if "comm" not in rf_assign.columns and "community" in rf_assign.columns:
            rf_assign = rf_assign.withColumnRenamed("community", "comm")
        rf_edges = read_edge_parquet(spark, args.edges)
        refine_communities(
            rf_edges, rf_assign, max_iter=args.max_iter
        ).write.mode("overwrite").parquet(args.out)
        refined = spark.read.parquet(args.out)
        n_in = rf_assign.select("comm").distinct().count()
        n_out = refined.select("comm").distinct().count()
        print(
            json.dumps(
                {
                    "communities_in": n_in,
                    "communities_out": n_out,
                    "splits": n_out - n_in,
                }
            )
        )
    elif args.cmd == "centrality":
        ce_edges = read_edge_parquet(spark, args.edges)
        tol = args.tol if args.tol > 0 else None
        if args.kind == "eigenvector":
            from parallel_louvain_method_spark.operators.spectral import (
                eigenvector_centrality,
            )

            out = eigenvector_centrality(ce_edges, max_iter=args.iters, tol=tol)
        elif args.kind == "hits":
            from parallel_louvain_method_spark.operators.spectral import hits

            out = hits(ce_edges, max_iter=args.iters, tol=tol)
        else:
            from parallel_louvain_method_spark.operators.metrics import (
                closeness_centrality,
            )

            out = closeness_centrality(
                ce_edges, args.hops, method=args.method, lg_k=args.lg_k
            )
        out.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {
                    "kind": args.kind,
                    "vertices": spark.read.parquet(args.out).count(),
                }
            )
        )
    elif args.cmd == "dedup":
        from parallel_louvain_method_spark.operators import dedup as D

        docs = spark.read.parquet(args.docs)
        if args.method == "exact":
            out = D.exact_duplicates(docs)
        elif args.method == "minhash":
            out = D.minhash_lsh_pairs(docs, threshold=args.threshold)
        elif args.method == "simhash":
            out = D.simhash_near_dups(docs, max_hamming=args.max_hamming)
        elif args.method == "clusters":
            out = D.near_dup_clusters(docs, threshold=args.threshold)
        else:
            out = D.ngram_jaccard_pairs(docs, threshold=args.threshold)
        out.write.mode("overwrite").parquet(args.out)
        if args.method == "clusters" and args.kept_corpus:
            D.dedup_corpus(
                docs, spark.read.parquet(args.out)
            ).write.mode("overwrite").parquet(args.kept_corpus)
        print(json.dumps({"method": args.method, "rows": spark.read.parquet(args.out).count()}))
    elif args.cmd == "knn":
        from parallel_louvain_method_spark.operators.similarity import (
            ivf_knn,
            knn_brute_force,
            knn_lsh,
        )

        emb = spark.read.parquet(args.embeddings)
        if args.method == "brute":
            out = knn_brute_force(emb, k=args.k)
        elif args.method == "lsh":
            out = knn_lsh(emb, k=args.k, dim=args.dim)
        else:
            out = ivf_knn(emb, k=args.k)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"method": args.method, "rows": spark.read.parquet(args.out).count()}))
    elif args.cmd == "pack":
        from parallel_louvain_method_spark.operators.packing import (
            pack_sequences,
            packing_stats,
        )

        packed = pack_sequences(
            spark.read.parquet(args.docs),
            budget=args.budget,
            n_shards=args.shards,
            id_col=args.id_col,
            tokens_col=args.tokens_col,
            text_col=args.text_col,
            seed=args.seed,
        )
        packed.write.mode("overwrite").parquet(args.out)
        stats = packing_stats(
            spark.read.parquet(args.out), budget=args.budget
        ).agg(
            F.sum("n_sequences").alias("n"),
            F.sum("tokens").alias("tok"),
        ).first()
        print(json.dumps({
            "sequences": int(stats["n"] or 0),
            "tokens": int(stats["tok"] or 0),
        }))
    elif args.cmd == "temporal":
        from parallel_louvain_method_spark.operators.temporal import (
            contact_edges,
            temporal_reachability,
        )

        contacts, dropped = contact_edges(
            spark.read.parquet(args.events),
            bucket_seconds=args.bucket_seconds,
            user_col=args.user_col,
            key_col=args.key_col,
            ts_col=args.ts_col,
            max_group=args.max_group,
        )
        if args.seeds:
            reach = temporal_reachability(
                contacts,
                [int(v) for v in args.seeds.split(",")],
                max_iter=args.max_iter,
            )
            reach.write.mode("overwrite").parquet(args.out)
            print(json.dumps({
                "reached": reach.count(),
                "dropped_groups": dropped.count(),
            }))
        else:
            contacts.write.mode("overwrite").parquet(args.out)
            print(json.dumps({
                "contacts": contacts.count(),
                "dropped_groups": dropped.count(),
            }))
    elif args.cmd == "embstats":
        from parallel_louvain_method_spark.operators import embstats as EB

        emb = spark.read.parquet(args.embeddings)
        if args.op == "moments":
            out_df = EB.embedding_moments(emb, args.vec_col)
        elif args.op == "covariance":
            out_df = EB.embedding_covariance(emb, args.vec_col)
        elif args.op == "pca":
            out_df = EB.pca_project(
                emb, k=args.k, id_col=args.id_col, vec_col=args.vec_col
            )
        else:
            out_df = EB.quantize_embeddings(
                emb, id_col=args.id_col, vec_col=args.vec_col
            )[0]
        out_df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": args.op, "rows": out_df.count()}))
    elif args.cmd == "bloom":
        from parallel_louvain_method_spark.functions.bloom import (
            bloom_semi_join,
        )

        kept = bloom_semi_join(
            spark.read.parquet(args.probe),
            args.probe_key,
            spark.read.parquet(args.build),
            args.build_key,
            m_bits=args.m_bits,
            probes=args.probes,
            seed=args.seed,
        )
        kept.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"kept": kept.count()}))
    elif args.cmd == "ingest":
        from parallel_louvain_method_spark.sources.corpus import (
            incremental_shared_content_edges,
            shared_content_edges,
            shared_content_postings,
        )

        batch = spark.read.parquet(args.batch)
        if args.old_edges and args.old_postings:
            edges, postings, dropped = incremental_shared_content_edges(
                spark.read.parquet(args.old_postings),
                spark.read.parquet(args.old_edges),
                batch,
                node_col=args.node,
                max_group=args.max_group,
                content_col=args.content_col,
            )
        elif args.old_edges or args.old_postings:
            raise SystemExit(
                "--old-edges and --old-postings must be given together"
            )
        else:
            edges, dropped = shared_content_edges(
                batch,
                node_col=args.node,
                max_group=args.max_group,
                content_col=args.content_col,
            )
            postings = shared_content_postings(
                batch, args.node, args.content_col
            )
        edges.write.mode("overwrite").parquet(args.out_edges)
        postings.write.mode("overwrite").parquet(args.out_postings)
        print(json.dumps({
            "edges": edges.count(),
            "postings": postings.count(),
            "dropped_groups": dropped.count(),
        }))
    elif args.cmd == "sparsify":
        from parallel_louvain_method_spark.operators.graph import (
            topk_neighbors,
        )

        kept = topk_neighbors(
            spark.read.parquet(args.edges), args.k,
            weight_col=args.weight_col,
        )
        kept.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"edges": kept.count(), "k": args.k}))
    elif args.cmd == "assoc":
        from parallel_louvain_method_spark.sources.corpus import (
            association_edge_weights,
        )

        out_df = association_edge_weights(
            spark.read.parquet(args.edges),
            spark.read.parquet(args.postings),
        )
        out_df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"edges": out_df.count()}))
    elif args.cmd == "diff":
        if args.state_dir is not None:
            if args.v_old is None or args.v_new is None:
                raise SystemExit("diff --state-dir needs --v-old and --v-new")
            from parallel_louvain_method_spark.streaming.ingest import (
                state_diff,
            )

            out_df = state_diff(spark, args.state_dir, args.v_old, args.v_new)
        elif args.old and args.new:
            from parallel_louvain_method_spark.operators.graph import edge_diff

            out_df = edge_diff(
                spark.read.parquet(args.old), spark.read.parquet(args.new)
            )
        else:
            raise SystemExit(
                "diff needs either --old/--new tables or "
                "--state-dir/--v-old/--v-new"
            )
        out_df.write.mode("overwrite").parquet(args.out)
        stats = {
            r["status"]: r["n"]
            for r in out_df.groupBy("status")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        print(json.dumps({"rows": sum(stats.values()), "by_status": stats}))
    elif args.cmd == "ingest-stream":
        from parallel_louvain_method_spark.streaming.ingest import (
            edges_from_state,
            latest_version,
            read_corpus_stream,
            start_incremental_edge_ingest,
        )

        q = start_incremental_edge_ingest(
            read_corpus_stream(spark, args.src),
            args.state_dir,
            args.checkpoint,
            node_col=args.node,
            max_group=args.max_group,
            content_col=args.content_col,
        )
        if args.once:
            q.processAllAvailable()
            q.stop()
            v = latest_version(spark, args.state_dir)
            edges = (
                edges_from_state(spark, args.state_dir, v).count()
                if v is not None
                else 0
            )
            print(json.dumps({"version": v, "edges": edges}))
        else:
            q.awaitTermination()
    elif args.cmd == "text":
        from parallel_louvain_method_spark.operators import text as T

        docs = spark.read.parquet(args.docs)
        fn = {
            "tokens": T.token_counts,
            "quality": T.quality_scores,
            "langid": T.language_id,
            "fingerprints": T.fingerprints,
        }[args.op]
        out = fn(docs)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": args.op, "rows": spark.read.parquet(args.out).count()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
