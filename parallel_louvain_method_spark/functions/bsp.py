"""Barrier BSP runtime: the one module that runs Spark barrier stages.

The reference runs every distributed round through one communicate-deltas
protocol (``MPI_Allgather``, src/distcommunity.cpp:212-385); this module
is that protocol for the barrier operators (Louvain levels, PageRank).  An
operator hands :func:`run` its key-partitioned edge table and a *step*,
its per-task vertex program.  The runtime owns the rest: the barrier
probe and failure classification, each task's read of its partition's
Arrow batches into numpy, the star hub (functions/exchange.py) that
:func:`run` hosts in the driver for the stage's lifetime, per-round
``exchange`` with an adaptive timeout, teardown, the coordinator-only
rerun after a transport loss, and phase timings.

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

from parallel_louvain_method_spark.functions.exchange import (
    AllGatherTransportError,
    StarAllGather,
    StarHub,
)

# one probe per SparkContext: can this cluster schedule a barrier stage at
# all?  (local[N] always can; a dynamic-allocation cluster cannot, and its
# slot check would otherwise retry ~40x15 s before failing the real job)
_BARRIER_PROBED: dict[str, bool] = {}

# failure injection (tests only): at this exchange round rank 0 kills its
# star socket, simulating a NIC death mid-stage.  Read on the driver and
# shipped in the task closure — the reused Python worker daemons never see
# a change made after session start.
_KILL_ROUND = -1

_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _is_transport_error(exc: Exception) -> bool:
    """True when a barrier-stage failure is a star-transport loss: the
    driver could not open the hub, or a worker raised
    AllGatherTransportError (functions/exchange.py; Spark embeds the class
    name in the wrapped message).  These are RETRIABLE over the
    coordinator allGather — unlike kernel/data bugs, which must
    propagate."""
    return isinstance(exc, AllGatherTransportError) or (
        "AllGatherTransportError" in str(exc)
    )


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


# -- task side -------------------------------------------------------------
class Comm:
    """A barrier task's handle on its stage: ``rank``, ``n``,
    :meth:`exchange` and :meth:`phase`.

    ``ctx.allGather`` has a measured ~1 s floor per sync, so rounds go
    over the star (functions/exchange.py) to the hub :func:`run` hosts in
    the driver; the hub address ships in the task closure, so no round
    ever touches the coordinator on the star path.  A task that cannot
    reach the hub raises AllGatherTransportError, which fails the stage,
    and :func:`run` reruns it with ``hub=None``: coordinator rounds only.
    Every task gets the same ``hub``, so all tasks take the same path
    without a sync.  Spark never re-attempts the stage itself (a failed
    barrier ResultStage aborts the job, and barrier tasks are not retried
    one by one), so no second attempt's task can meet a hub that already
    holds the first attempt's peers.
    """

    # a round's wall includes waiting for the slowest peer's compute, so
    # this multiple of the slowest round seen is generous for stragglers
    # while bounding a hung-hub stall to minutes
    ROUND_TIMEOUT_FACTOR = 20.0

    def __init__(self, ctx, hub: tuple | None, kill_round: int):
        self.rank = ctx.partitionId()
        self.n = len(ctx.getTaskInfos())
        self.timings: dict[str, float] = {}
        self._ctx = ctx
        self._kill_round = kill_round
        self._round = 0
        self._slowest = 0.0
        self._xg: StarAllGather | None = None
        if hub is not None and self.n > 1:
            self._xg = StarAllGather(self.rank)
            self._xg.connect(hub)
        self._t_mark = time.monotonic()

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
            self._xg.kill_for_test()  # injected transport death (tests)
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


def _columns(batches) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The partition's ``(key int32, other int32, weight float64)``
    columns; typed empty arrays for a partition with no rows."""
    cols: list[list[np.ndarray]] = [[], [], []]
    for b in batches:
        for i in range(3):
            cols[i].append(b.column(i).to_numpy(zero_copy_only=False))
    return tuple(
        np.concatenate(c).astype(dt, copy=False) if c else np.empty(0, dt)
        for c, dt in zip(cols, (np.int32, np.int32, np.float64))
    )


def _task(step, hub: tuple | None, kill_round: int, batches):
    from pyspark import BarrierTaskContext

    ctx = BarrierTaskContext.get()
    t0 = time.monotonic()
    arrays = _columns(batches)
    t1 = time.monotonic()
    comm = Comm(ctx, hub, kill_round)
    comm.timings.update(unpack=t1 - t0, xchg_setup=time.monotonic() - t1)
    try:
        out = step(comm, *arrays)
    finally:
        comm.close()
    timings = {k: round(v, 3) for k, v in comm.timings.items()}
    # one pickled binary cell per task is enough: the largest output is
    # Louvain's strided labels plus the partial sums of at most
    # strategy.BARRIER_ROWS_PER_TASK rows, well under Arrow's 2 GiB
    # binary-offset limit
    cell = pickle.dumps((comm.rank, out, timings), protocol=4)
    yield pa.RecordBatch.from_arrays([pa.array([cell], pa.binary())], ["out"])


def _num_partitions(df: DataFrame) -> int:
    """The task count of a stage over ``df``, without running a job: the
    partitioning its plan declares (a repartitioned or cached table), else
    that of its row RDD, which for a plan with no exchange runs nothing."""
    qe = df._jdf.queryExecution()
    n = qe.sparkPlan().outputPartitioning().numPartitions()
    return n if n > 0 else qe.toRdd().getNumPartitions()


# -- driver side -----------------------------------------------------------
def run(
    edges: DataFrame, step, tag: str, fallback: str
) -> tuple[list, dict, dict] | None:
    """Run ``step(comm, key, other, weight)`` once per partition of
    ``edges`` = ``(key int, other int, weight double)``, partitioned on
    key, all tasks in ONE ``mapInArrow(barrier=True)`` stage that reads
    each partition, sorted by key on the JVM, straight into numpy columns.

    Returns ``(outs, phase_crit, phase_sum)``: the steps' return values in
    rank order, and per phase the MAX wall over tasks (the critical path —
    the slowest task gates every barrier) and the SUM (total work,
    conserved under repartitioning).  A task's gather wall includes
    waiting for the previous phase's stragglers.

    Returns None — after one stderr line naming ``fallback`` — when the
    stage fails for a reason other than a worker-side Python error, which
    raises.  The star hub runs in this (driver) process for the stage's
    lifetime, listening on ``spark.driver.host``; executors must reach the
    driver on that one more port.  A star-transport loss (the hub cannot
    be opened or reached, or a round fails) reruns the stage once over
    the coordinator ``allGather`` only: the step's state is consistent
    only at its start, and the coordinator needs no connections.
    """
    spark = edges.sparkSession
    conf = spark.sparkContext.getConf()
    host = conf.get("spark.driver.host", "127.0.0.1")
    bind = conf.get("spark.driver.bindAddress", host)
    edges = edges.sortWithinPartitions(edges.columns[0])
    n = _num_partitions(edges)
    # larger Arrow batches for the one bulk transfer: the session default
    # (64k rows) is sized for wide document rows, but the stage reads 3
    # fixed-width columns — fewer, bigger batches measurably cut the
    # JVM→Python conversion wall.  Restored on exit.
    batch = spark.conf.get(_ARROW_BATCH)
    spark.conf.set(_ARROW_BATCH, "262144")
    try:
        for star in (True, False) if n > 1 else (False,):
            hub = StarHub(n) if star else None
            try:
                addr = hub.open(host, bind) if hub is not None else None
                task = functools.partial(_task, step, addr, _KILL_ROUND)
                rows = edges.mapInArrow(
                    task, "out binary", barrier=True
                ).collect()
                break
            except Exception as exc:
                if star and _is_transport_error(exc):
                    print(
                        f"[{tag}] star transport failed; retrying "
                        "the stage over coordinator allGather (~1 s/round)",
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
                if hub is not None:
                    hub.close()
    finally:
        spark.conf.set(_ARROW_BATCH, batch)
    results = [pickle.loads(r[0]) for r in rows]
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
