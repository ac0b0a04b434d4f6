"""Temporal graph operators over the events stream table — contact-graph
construction and time-respecting reachability.

A static edge table answers "who is connected"; an event log answers
"who could have influenced whom, and by WHEN".  The two operators here
are the batch halves of that question:

- :func:`contact_edges` turns an event log ``(user, key, ts)`` into a
  TEMPORAL edge table ``(src, dst, t)`` — a directed contact both ways
  between users co-occurring in the same ``(key, time-bucket)``.  The
  bucket self-join is quadratic in group size, so the hot-group defense
  is the engine's no-silent-caps rule (``max_group`` drops oversized
  groups OBSERVABLY — the self-join is ``graph.capped_pairs``).
- :func:`temporal_reachability` computes earliest-arrival times from a
  seed set under time-respecting paths: an edge ``(u, v, t)`` is usable
  only if ``t >= arrival(u)``, and then ``arrival(v) <= t``.  This is
  the influence/contagion closure — NOT the static reachability of the
  union graph (a path that exists only "backwards in time" does not
  count; pinned in pytest).

Scale design: the reachability loop is one state⋈edges equi-join plus a
map-side-combined MIN merge per round — the sssp/components posture
(state rows only for reached vertices, per-round stats-free checkpoints,
one driver action per round).  Convergence is detected from the
(count, sum-of-arrivals) pair: the reached set only GROWS and arrivals
only DECREASE (MIN-merge over exact integer bucket times), so an
unchanged pair proves the fixpoint — no expensive set comparison.
``max_iter`` RAISES on exhaustion (kcore contract: never a silent
under-closure).  :func:`temporal_reach_rounds` is the fixed-round twin a
DuckDB oracle unrolls.

The reference has no temporal surface; north-rule addition next to the
streaming sessionization twins (streaming/events.py).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from parallel_louvain_method_spark.operators.graph import capped_pairs
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint


def contact_edges(
    events: DataFrame,
    bucket_seconds: int = 600,
    user_col: str = "user_id",
    key_col: str = "event_type",
    ts_col: str = "ts",
    max_group: int | None = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Directed temporal contact edges from an event log.

    Returns ``(contacts, dropped)``:

    - ``contacts``: ``DataFrame[src, dst, t]`` — one row per ordered
      user pair co-occurring in a ``(key, bucket)`` group, both
      directions, ``t`` = the bucket index (``floor(epoch / bucket
      seconds)``, a long).  Set semantics (duplicates collapse).
    - ``dropped``: ``DataFrame[key, t, n_users]`` — groups whose user
      count exceeded ``max_group`` (k users emit k·(k−1) directed rows,
      the quadratic blow-up; ``max_group=None`` for exact).

    Runs one eager job (the ``graph.capped_pairs`` checkpoint).
    """
    occ = events.select(
        F.col(user_col).alias("u"),
        F.col(key_col).alias("key"),
        F.floor(F.unix_timestamp(ts_col) / F.lit(bucket_seconds))
        .cast("long")
        .alias("t"),
    ).distinct()
    joined, dropped = capped_pairs(occ, ["key", "t"], "u", max_group)
    # both directions from the one join
    contacts = joined.select(
        F.inline(
            F.array(
                F.struct(F.col("a.u").alias("src"), F.col("b.u").alias("dst"), "t"),
                F.struct(F.col("b.u").alias("src"), F.col("a.u").alias("dst"), "t"),
            )
        )
    ).distinct()
    return contacts, dropped.withColumnRenamed("n", "n_users")


def _reach_round(state: DataFrame, contacts: DataFrame) -> DataFrame:
    """One relaxation: earliest arrivals via usable contacts, MIN-merged
    into the current state."""
    cand = (
        state.join(contacts, state["vtx"] == contacts["src"])
        .filter(F.col("t") >= F.col("t_arr"))
        .groupBy(F.col("dst").alias("vtx"))
        .agg(F.min("t").alias("t_arr"))
    )
    return (
        state.unionByName(cand)
        .groupBy("vtx")
        .agg(F.min("t_arr").alias("t_arr"))
    )


def _seed_state(
    contacts: DataFrame, seeds, start_t: int | None
) -> tuple[DataFrame, int]:
    spark = contacts.sparkSession
    if start_t is None:
        row = contacts.agg(F.min("t")).first()
        if row is None or row[0] is None:
            raise ValueError("temporal_reachability: empty contact table")
        start_t = int(row[0])
    if isinstance(seeds, DataFrame):
        seed_df = seeds.select(F.col(seeds.columns[0]).alias("vtx")).distinct()
    else:
        seed_df = spark.createDataFrame(
            [(int(v),) for v in seeds], "vtx long"
        ).distinct()
    return (
        seed_df.select(
            F.col("vtx").cast("long"),
            F.lit(start_t).cast("long").alias("t_arr"),
        ),
        start_t,
    )


def temporal_reachability(
    contacts: DataFrame,
    seeds,
    start_t: int | None = None,
    max_iter: int | None = None,
) -> DataFrame:
    """Earliest time-respecting arrival from ``seeds``:
    ``DataFrame[vtx: long, t_arr: long]`` — one row per REACHED vertex
    (seeds at ``start_t``, which defaults to the table's min ``t``).

    ``seeds`` is a driver list of ids or a one-column DataFrame.  Runs
    relaxation rounds to the fixpoint (see module docstring for the
    count+sum convergence proof); ``max_iter`` RAISES on exhaustion.
    """
    state, _ = _seed_state(contacts, seeds, start_t)
    state = fresh_checkpoint(state)
    prev = (-1, -1)
    rounds = range(max_iter) if max_iter is not None else itertools.count()
    for _ in rounds:
        state = fresh_checkpoint(_reach_round(state, contacts))
        row = state.agg(
            F.count("*").alias("n"), F.sum("t_arr").alias("s")
        ).first()
        cur = (row["n"], row["s"])
        if cur == prev:
            return state.select(
                F.col("vtx").cast("long"), F.col("t_arr").cast("long")
            )
        prev = cur
    raise RuntimeError(
        f"temporal_reachability did not reach a fixpoint within {max_iter} "
        "rounds; raise max_iter or pass max_iter=None"
    )


def temporal_reach_rounds(
    contacts: DataFrame,
    seeds,
    rounds: int,
    start_t: int | None = None,
) -> DataFrame:
    """Arrivals after exactly ``rounds`` relaxations (paths of at most
    ``rounds`` hops) — the SQL-unrollable oracle twin of
    :func:`temporal_reachability`."""
    if rounds < 1:
        raise ValueError("temporal_reach_rounds requires rounds >= 1")
    state, _ = _seed_state(contacts, seeds, start_t)
    for i in range(rounds):
        state = _reach_round(state, contacts)
        if i < rounds - 1:
            state = fresh_checkpoint(state)
    return state.select(F.col("vtx").cast("long"), F.col("t_arr").cast("long"))
