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

This harness runs the REAL transport (functions/exchange.py) at exactly
that worst case: the hub is a thread of this (parent) process, as it is
of the Spark driver, and every rank is a peer in its own OS process (no
GIL coupling between ranks).  Payloads follow the measured geometric
mover decay of the bench runs (n/2, n/8, n/32, n/128 across sweeps); it
prints per-round gather walls + hub egress bytes.

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
import os
import sys
import time

# abspath: a relative __file__ ("tools/x.py") would resolve to "tools",
# not the repo root.  The spawned ranks re-import this module, so they get
# the same path.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_louvain_method_spark.functions.exchange import (  # noqa: E402
    StarAllGather,
    StarHub,
)


def _rank_proc(rank, hub, res_q, payload_sizes):
    g = StarAllGather(rank)
    g.connect(hub)
    walls = []
    egress = []
    for size in payload_sizes:
        payload = bytes(size)
        t0 = time.monotonic()
        frames = g.exchange(payload)
        walls.append(time.monotonic() - t0)
        # hub egress this round: the concatenated blob to each of the n
        # peers (count prefix + n length-prefixed frames)
        egress.append((4 + sum(4 + len(f) for f in frames)) * len(frames))
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

    # "spawn": the peers must not inherit the hub thread's sockets
    ctx = mp.get_context("spawn")
    res_q = ctx.Queue()
    hub = StarHub(n)
    t_all = time.monotonic()
    addr = hub.open("127.0.0.1")
    procs = [
        ctx.Process(target=_rank_proc, args=(r, addr, res_q, per_rank_sizes))
        for r in range(n)
    ]
    try:
        for p in procs:
            p.start()
        results = [res_q.get(timeout=600) for _ in range(n)]
        for p in procs:
            p.join(30)
    finally:
        hub.close()
    wall_total = time.monotonic() - t_all

    by_rank = {r: (w, e) for r, w, e in results}
    rank0_walls, hub_egress = by_rank[0][0], by_rank[0][1]
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
        "gather_wall_rank0_s": [round(w, 3) for w in rank0_walls],
        "egress_gbps_loopback": [
            round(e * 8 / w / 1e9, 2)
            for e, w in zip(hub_egress, rank0_walls)
            if w > 0
        ],
        "total_wall_s": round(wall_total, 2),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
