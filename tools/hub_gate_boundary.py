"""Measure the star all-gather HUB at the barrier gate's worst case.

VERDICT r4 "What's wrong" #2b: the hub egress is n × Σpayload per sweep —
fine in principle at the gated tier, but the constant was never measured
at the GATE BOUNDARY before anyone trusts it on a real cluster.  The gate
(plans/strategy.py, ``BARRIER_ROWS_PER_TASK`` = 12M symmetric rows per
task, capped at 32 tasks) admits graphs up to 384M symmetric edges; at
the bench graphs' mean degree ~29 that is ~13.2M vertices, and sweep 0
moves ~n/2 of them — each mover is an (int32, int32) pair, so

    Σpayload(sweep 0) ≈ 6.6M × 8 B ≈ 53 MB
    hub egress        = n_tasks × (Σpayload + framing) ≈ 1.7 GB

This harness runs the REAL transport (functions/exchange.py) with one OS
process per rank (no GIL coupling) at exactly that worst case, with the
measured geometric mover decay of the bench runs (n/2, n/8, n/32, n/128
across sweeps), and prints per-round gather walls + hub egress bytes.

Interpretation for a real cluster: the loopback result is an upper bound
on per-byte cost only for the HUB HOST's kernel/socket stack; on a wire
the same egress is serialized through one NIC, so wall_per_round ≈
egress / NIC_bandwidth (e.g. 1.7 GB / 25 Gb/s ≈ 0.55 s).  If that bound
ever dominates the per-sweep kernel at the gate tier, the next shape is
a two-level tree gather (hub fan-out sqrt(n)); the decision number this
tool records is exactly that comparison.

Usage: python tools/hub_gate_boundary.py [--ranks 32] [--nv 13200000]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import sys
import time


def _rank_proc(rank, n, hub_q, res_q, payload_sizes):
    import os

    # abspath: a relative __file__ ("tools/x.py") would resolve to
    # "tools", not the repo root, and every rank would die on ImportError
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from parallel_louvain_method_spark.functions.exchange import StarAllGather

    g = StarAllGather(rank, n)
    if rank == 0:
        # (host, port, token): the hub admits only peers presenting the
        # token, so every rank gets the whole tuple
        hub = g.listen()
        for _ in range(n - 1):
            hub_q.put(hub)
        g.accept_all()
    else:
        g.connect(hub_q.get(timeout=60))
    walls = []
    egress = []
    for size in payload_sizes:
        payload = bytes(size)
        t0 = time.monotonic()
        frames = g.exchange(payload)
        walls.append(time.monotonic() - t0)
        if rank == 0:
            # hub egress this round: the concatenated blob to each of the
            # n-1 peers (count prefix + n length-prefixed frames)
            blob_len = 4 + sum(4 + len(f) for f in frames)
            egress.append(blob_len * (n - 1))
    g.close()
    res_q.put((rank, walls, egress))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ranks", type=int, default=32)
    ap.add_argument(
        "--nv",
        type=int,
        default=13_200_000,
        help="vertex count at the gate boundary (12M rows/task x 32 tasks"
        " at mean degree ~29)",
    )
    args = ap.parse_args()
    n = args.ranks
    # sweep-by-sweep movers: the measured geometric decay of the bench
    # runs (sweep 0 ~ n/2 vertices, /4 per sweep after)
    movers = [args.nv // 2, args.nv // 8, args.nv // 32, args.nv // 128]
    per_rank_sizes = [m * 8 // n for m in movers]  # int32 pairs, split evenly

    ctx = mp.get_context("fork")
    hub_q = ctx.Queue()
    res_q = ctx.Queue()
    procs = [
        ctx.Process(
            target=_rank_proc, args=(r, n, hub_q, res_q, per_rank_sizes)
        )
        for r in range(n)
    ]
    t_all = time.monotonic()
    for p in procs:
        p.start()
    results = [res_q.get(timeout=600) for _ in range(n)]
    for p in procs:
        p.join(30)
    wall_total = time.monotonic() - t_all

    by_rank = {r: (w, e) for r, w, e in results}
    hub_walls, hub_egress = by_rank[0][0], by_rank[0][1]
    out = {
        "ranks": n,
        "n_vertices": args.nv,
        "movers_per_sweep": movers,
        "sum_payload_mb": [round(m * 8 / 1e6, 1) for m in movers],
        "hub_egress_mb": [round(e / 1e6, 1) for e in hub_egress],
        "gather_wall_max_s": [
            round(max(by_rank[r][0][i] for r in by_rank), 3)
            for i in range(len(movers))
        ],
        "gather_wall_hub_s": [round(w, 3) for w in hub_walls],
        "egress_gbps_loopback": [
            round(e * 8 / w / 1e9, 2)
            for e, w in zip(hub_egress, hub_walls)
            if w > 0
        ],
        "total_wall_s": round(wall_total, 2),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
