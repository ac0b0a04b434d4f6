"""Lineage AND statistics truncation for iterative DataFrame loops.

``DataFrame.localCheckpoint`` truncates the *lineage* (the next plan starts
from a ``LogicalRDD``) but Spark preserves the optimized plan's statistics
on that ``LogicalRDD`` as ``originStats``.  In an iterative loop whose per-
round plan joins the checkpointed frame with projections of *itself* (the
pointer-jump pattern of connected components and the Louvain sql engine's
label-chase collapse), ``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` sets
the round's output ``sizeInBytes`` to the *product* of its children — so
the carried-over BigInt roughly **squares every round**.  Its digit count
doubles per round (doubly-exponential value growth), and after ~10 rounds
the driver spends minutes per round inside Toom-Cook BigInteger multiplies
in the stats visitor.  Measured on Spark 4.1.2: a 1000-row frame self-
joined with a plain ``localCheckpoint`` per round reaches a 7,900-digit
``sizeInBytes`` by round 10 (digits double each round: 988 → 1976 → 3951 →
7901); this was the round-3 hang of ``_sql_sweep_loop``'s delta tail
(VERDICT r3, jstack pinned to ``SizeInBytesOnlyStatsPlanVisitor.visitJoin``
→ ``BigInt`` product).

``fresh_checkpoint`` fixes the class of bug: materialize via
``localCheckpoint`` as before, then rewrap the checkpointed ``InternalRow``
RDD in a brand-new ``LogicalRDD`` (``SparkSession.internalCreateDataFrame``)
that carries **no** ``originStats``.  The new leaf reports
``spark.sql.defaultSizeInBytes`` (a constant), so per-round stats stay a
bounded product of constants.  The loops that use this must hint their
join strategies explicitly (they already do — ``shuffle_hash`` /
``broadcast``), because the default leaf size disables auto-broadcast.

Reference anchor: this protects the rebuilt sweep loop of
``DistCommunities::iterate`` (/root/reference/src/distcommunity.cpp:212-385),
whose MPI original has no planner and hence no analog of this failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# set True by a successful rewrap, False by a failed one (diagnosable in
# tests / debugging: None = private API never exercised yet)
_REWRAP_OK: bool | None = None


def fresh_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and return a stats-free, lineage-free
    DataFrame over the checkpointed rows.

    Falls back to the plain ``localCheckpoint`` result if the JVM-side
    rewrap API is unavailable (e.g. Spark Connect, where ``_jdf`` does not
    exist) — correctness is unaffected, only the stats-compounding
    protection is lost.
    """
    global _REWRAP_OK
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jspark = jdf.sparkSession()
        jdf2 = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(jdf2, ck.sparkSession)
    except Exception:
        _REWRAP_OK = False
        return ck
    _REWRAP_OK = True
    return out


def release(df: DataFrame) -> None:
    """Unpersist the rows under a superseded :func:`fresh_checkpoint`
    result (JVM GC would hold them): the first persisted RDD at most three
    hops below its ``LogicalRDD``, never a cache upstream of it."""
    jdf = getattr(df, "_jdf", None)  # None on Spark Connect: GC frees it
    plan = None if jdf is None else jdf.queryExecution().analyzed()
    if plan is None or not plan.getClass().getName().endswith(".LogicalRDD"):
        return
    rdd = plan.rdd()
    for _ in range(3):
        if rdd.getStorageLevel().isValid():
            rdd.unpersist(False)
            return
        if rdd.dependencies().isEmpty():
            return
        rdd = rdd.dependencies().head().rdd()


def size_in_bytes_digits(df: DataFrame) -> int:
    """Digit count of the optimized plan's ``sizeInBytes`` statistic.

    Observability hook for the compounding bug above: a healthy iterative
    loop keeps this bounded (~19 digits, the default leaf size); the bug
    shows as doubling per round.  py4j converts the scala BigInt to a
    Python int — and refuses the conversion past 4300 digits, which is
    itself a positive detection of the bug (we recover the digit count
    from the refusal message).
    """
    import re

    try:
        v = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    except ValueError as e:  # "...value has NNNN digits..."
        m = re.search(r"value has (\d+) digits", str(e))
        if m:
            return int(m.group(1))
        raise
    return len(str(v).lstrip("-"))
