"""Barrier BSP runtime: the one module that runs Spark barrier stages.

The reference runs every distributed round through one communicate-deltas
protocol (``MPI_Allgather``, src/distcommunity.cpp:212-385); this module
is that protocol for the barrier operators (Louvain levels, PageRank).  An
operator packs its edge table once (:func:`pack`) and hands :func:`run` a
*step*, its per-task vertex program.  The runtime owns the rest: the
barrier probe and failure classification, the pack/unpack, the star
handshake (functions/exchange.py) bootstrapped over the coordinator
``allGather``, per-round ``exchange`` with an adaptive timeout, teardown,
the coordinator-only rerun after a transport loss, and phase timings.

Every task applies the same gathered frames to its own state, so all
tasks hold identical state and take identical exit decisions.
"""

from __future__ import annotations

import base64
import functools
import pickle
import sys
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from parallel_louvain_method_spark.functions.exchange import StarAllGather

# one probe per SparkContext: can this cluster schedule a barrier stage at
# all?  (local[N] always can; a dynamic-allocation cluster cannot, and its
# slot check would otherwise retry ~40x15 s before failing the real job)
_BARRIER_PROBED: dict[str, bool] = {}

# failure injection (tests only): at this exchange round rank 0 kills its
# star sockets, simulating hub death mid-stage.  Read on the driver and
# shipped in the task closure — the reused Python worker daemons never see
# a change made after session start.
_KILL_ROUND = -1

_BLOB_SCHEMA = "raw_len long, blob binary"
_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _is_transport_error(exc: Exception) -> bool:
    """True when a barrier-stage failure wraps a mid-stage star-transport
    loss (functions/exchange.py raises AllGatherTransportError inside the
    worker; Spark embeds the class name in the wrapped message).  These
    are RETRIABLE over the coordinator allGather — unlike kernel/data
    bugs, which must propagate."""
    return "AllGatherTransportError" in str(exc)


def _is_worker_python_error(exc: Exception) -> bool:
    """True when a barrier-stage failure wraps a WORKER-side Python error
    (kernel or data bug) — those must propagate.  Spark embeds the worker
    traceback in the Java exception message, which barrier SCHEDULING
    failures (slot check, dynamic allocation) never carry."""
    msg = str(exc)
    return "Traceback" in msg or "PythonException" in msg


def barrier_supported(sc) -> bool:
    key = sc.applicationId
    if key not in _BARRIER_PROBED:
        try:
            n = max(1, int(sc.defaultParallelism))
            sc.parallelize(range(n), n).barrier().mapPartitions(
                lambda it: iter([1])
            ).count()
            _BARRIER_PROBED[key] = True
        except Exception:
            _BARRIER_PROBED[key] = False
    return _BARRIER_PROBED[key]


# -- pack ------------------------------------------------------------------
def _pack_partition(batches):
    cols: list[list[np.ndarray]] = [[], [], []]
    for b in batches:
        for i in range(3):
            cols[i].append(b.column(i).to_numpy(zero_copy_only=False))
    k, o, w = (
        np.concatenate(c) if c else np.empty(0, dt)
        for c, dt in zip(cols, (np.int32, np.int32, np.float64))
    )
    # sort by key + delta-encode + zstd: the blob crosses two more process
    # boundaries (Python->JVM, JVM->barrier-Python) before the step sees
    # it, and at scale-test sizes those crossings are the stage's
    # bandwidth bill.  Sorted key deltas are mostly tiny ints and level-0
    # weights repeat, so zstd-1 lands ~4x (measured 139 MB -> 35 MB per
    # 8.7M rows at ~0.7 s compress + ~0.6 s decompress, both fully
    # parallel).  Sorted rows also make Louvain's structural prep and its
    # per-pass group-sort cache-friendlier.
    if len(k) > 1 and not bool((k[1:] >= k[:-1]).all()):
        # the JVM already sorted within the partition (see pack) — only
        # sort here if something upstream stopped guaranteeing it
        order = np.argsort(k, kind="stable")
        k, o, w = k[order], o[order], w[order]
    kdelta = np.diff(k, prepend=np.int32(0)).astype(np.int32)
    raw = pickle.dumps((kdelta, o, w), protocol=4)
    comp = pa.Codec("zstd", compression_level=1).compress(raw, asbytes=True)
    yield pa.RecordBatch.from_pydict({"raw_len": [len(raw)], "blob": [comp]})


def pack(edges: DataFrame) -> DataFrame:
    """One blob per partition of ``edges`` = ``(key int, other int,
    weight double)``, partitioned on key.  NOT persisted and NOT counted:
    the barrier stage is its only consumer, so the pack fuses into that
    stage.  mapInArrow, not mapInPandas: the pack wants raw numpy columns,
    and the pandas wrapper's Series construction was measured at ~2× the
    whole conversion cost.  The sort runs on the JVM side
    (whole-stage-codegen'd, narrow — it keeps the key partitioning), far
    cheaper than a numpy argsort in the Python worker (~2 s per 8.7M
    rows on this host)."""
    return edges.sortWithinPartitions(edges.columns[0]).mapInArrow(
        _pack_partition, schema=_BLOB_SCHEMA
    )


def unpack(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The task's ``(key int32, other int32, weight float64)`` arrays."""
    for r in rows:  # one blob per partition; none for an empty one
        raw = pa.Codec("zstd").decompress(
            bytes(r["blob"]), int(r["raw_len"]), asbytes=True
        )
        kdelta, o, w = pickle.loads(raw)
        # cumsum in int64 (no overflow), back to the ids' native int32
        return np.cumsum(kdelta, dtype=np.int64).astype(np.int32), o, w
    empty = np.empty(0, np.int32)
    return empty, empty, np.empty(0, np.float64)


# -- task side -------------------------------------------------------------
class Comm:
    """A barrier task's handle on its stage: ``rank``, ``n``,
    :meth:`exchange` and :meth:`phase`.

    ``ctx.allGather`` has a measured ~1 s floor per sync, so rounds go
    over the star (functions/exchange.py) and the coordinator carries only
    the handshake: the hub address and token, then a status round
    confirming EVERY task connected.  All tasks take the same branch, so a
    failed handshake leaves the whole stage on the coordinator.
    """

    # a round's wall includes waiting for the slowest peer's compute, so
    # this multiple of the slowest round seen is generous for stragglers
    # while bounding a hung-hub stall to minutes
    ROUND_TIMEOUT_FACTOR = 20.0

    def __init__(self, ctx, star: bool, kill_round: int, tag: str):
        self.rank = ctx.partitionId()
        self.n = len(ctx.getTaskInfos())
        self.timings: dict[str, float] = {}
        self._ctx = ctx
        self._kill_round = kill_round
        self._round = 0
        self._slowest = 0.0
        self._xg = self._handshake(tag) if star and self.n > 1 else None
        self._t_mark = time.monotonic()

    def _handshake(self, tag: str) -> StarAllGather | None:
        xg = StarAllGather(self.rank, self.n)
        try:
            hub = None
            if self.rank == 0:
                try:
                    hub = xg.listen()
                except OSError:
                    pass
            for g in self._gather(pickle.dumps(hub, protocol=4)):
                hub = pickle.loads(g) or hub
            try:
                if hub is None:
                    raise ConnectionError("no hub advertised")
                if self.rank == 0:
                    xg.accept_all()
                else:
                    xg.connect(hub)
                st = "ok"
            except Exception as e:
                st = f"fail: {e!r}"
            statuses = self._ctx.allGather(st)
        except BaseException:
            xg.close()
            raise
        if all(x == "ok" for x in statuses):
            return xg
        xg.close()
        if self.rank == 0:
            # one diagnosable line: on multi-homed hosts a non-routable
            # _advertise_host pick lands here, and the silent slowdown
            # (1 s/sync coordinator floor) was otherwise invisible
            bad = [x for x in statuses if x != "ok"]
            hub_addr = hub[:2] if hub else None
            print(
                f"[{tag}/barrier] star-transport handshake failed on "
                f"{len(bad)}/{self.n} tasks (hub={hub_addr}, first={bad[0]});"
                " stage falls back to coordinator allGather (~1 s/sync)",
                file=sys.stderr,
                flush=True,
            )
        return None

    def exchange(self, payload: bytes) -> list[bytes]:
        """One all-gather round: every task contributes ``payload`` and
        receives all n frames — the same multiset on every task, in an
        order callers must not rely on.

        A star-socket failure raises AllGatherTransportError: NOT
        downgraded task-locally, because a partially-delivered round
        leaves tasks disagreeing on the current round — :func:`run`
        reruns the whole stage over the coordinator instead.

        The first two rounds run under ``StarAllGather.ROUND_TIMEOUT``: a
        step's first round may be a cheap one-off ahead of its slowest
        superstep (Louvain's degree exchange before sweep 0).  Every later
        round runs under ``ROUND_TIMEOUT_FACTOR`` × the slowest round so
        far, measured from the previous exchange's return (the step's
        compute plus the gather)."""
        if self._xg is None:
            self._round += 1
            return [payload] if self.n == 1 else self._gather(payload)
        if self.rank == 0 and self._round == self._kill_round:
            self._xg.kill_for_test()  # injected hub death (tests)
        frames = self._xg.exchange(payload)
        now = time.monotonic()
        self._slowest = max(self._slowest, now - self._t_mark)
        self._t_mark = now
        if self._round >= 1:
            self._xg.set_round_timeout(
                self.ROUND_TIMEOUT_FACTOR * self._slowest
            )
        self._round += 1
        return frames

    def _gather(self, payload: bytes) -> list[bytes]:
        """One round over the coordinator (it carries strings only)."""
        msg = base64.b64encode(payload).decode("ascii")
        return [base64.b64decode(g) for g in self._ctx.allGather(msg)]

    @contextmanager
    def phase(self, name: str):
        """Record the wall of the ``with`` body as phase ``name``."""
        t0 = time.monotonic()
        yield
        self.timings[name] = time.monotonic() - t0

    def close(self) -> None:
        # python workers are REUSED across tasks — sockets must not leak
        # into the next task on this worker
        if self._xg is not None:
            self._xg.close()


def _task(step, star: bool, kill_round: int, tag: str, rows):
    from pyspark import BarrierTaskContext

    ctx = BarrierTaskContext.get()
    t0 = time.monotonic()
    arrays = unpack(rows)
    t1 = time.monotonic()
    comm = Comm(ctx, star, kill_round, tag)
    comm.timings.update(unpack=t1 - t0, xchg_setup=time.monotonic() - t1)
    try:
        out = step(comm, *arrays)
    finally:
        comm.close()
    yield comm.rank, out, {k: round(v, 3) for k, v in comm.timings.items()}


# -- driver side -----------------------------------------------------------
def run(
    blobs: DataFrame, step, tag: str, fallback: str
) -> tuple[list, dict, dict] | None:
    """Run ``step(comm, key, other, weight)`` once per partition of the
    packed ``blobs``, all tasks in ONE barrier stage.

    Returns ``(outs, phase_crit, phase_sum)``: the steps' return values in
    rank order, and per phase the MAX wall over tasks (the critical path —
    the slowest task gates every barrier) and the SUM (total work,
    conserved under repartitioning).  A task's gather wall includes
    waiting for the previous phase's stragglers.

    Returns None — after one stderr line naming ``fallback`` — when the
    stage fails for a reason other than a worker-side Python error, which
    raises.  A star-transport loss reruns the stage once over the
    coordinator ``allGather`` only: the step's state is consistent only
    at its start, and the coordinator needs no connections.
    """
    spark = blobs.sparkSession
    # larger Arrow batches for the one bulk transfer: the session default
    # (64k rows) is sized for wide documents/media rows, but the pack reads
    # 3 fixed-width columns — fewer, bigger batches measurably cut the
    # JVM→Python conversion wall.  Restored on exit.
    batch = spark.conf.get(_ARROW_BATCH)
    spark.conf.set(_ARROW_BATCH, "262144")
    try:
        rdd = blobs.rdd
        for star in (True, False):
            task = functools.partial(_task, step, star, _KILL_ROUND, tag)
            try:
                results = rdd.barrier().mapPartitions(task).collect()
                break
            except Exception as exc:
                if star and _is_transport_error(exc):
                    print(
                        f"[{tag}] star transport failed mid-stage; retrying "
                        "the stage over coordinator allGather",
                        file=sys.stderr,
                    )
                    continue
                if _is_worker_python_error(exc):
                    raise  # kernel/data bug inside the stage — surface it
                print(
                    f"[{tag}] barrier engine unavailable ({exc!r}); "
                    f"falling back to {fallback}",
                    file=sys.stderr,
                )
                return None
    finally:
        spark.conf.set(_ARROW_BATCH, batch)
    outs: list = [None] * len(results)
    crit: dict[str, float] = {}
    total: dict[str, float] = {}
    for rank, out, tm in results:
        outs[rank] = out
        for k, v in tm.items():
            # max(), not a > guard: a 0.000-rounded phase must still CREATE
            # its key so crit/sum stay aligned
            crit[k] = max(crit.get(k, 0.0), v)
            total[k] = total.get(k, 0.0) + v
    return outs, crit, total
