"""Structured Streaming surface: events file-stream → windowed aggregates."""

from __future__ import annotations

from parallel_louvain_method_spark.streaming.events import (
    read_event_stream,
    start_activity_sink,
    windowed_activity,
)


def test_windowed_activity_stream(spark, tmp_path):
    # stage the driver's events table as the file-stream source
    src = str(tmp_path / "events_src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)

    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    activity = windowed_activity(stream, window="1 hour", watermark="2 hours")
    q = start_activity_sink(activity, out, ck)
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out)
    assert got.count() > 0
    # batch oracle: same aggregation over the static table
    from pyspark.sql import functions as F

    static = spark.read.parquet(src)
    want = static.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    got_n = {
        (r["window"]["start"], r["event_type"]): r["n_events"]
        for r in got.collect()
    }
    for r in want.collect():
        key = (r["window"]["start"], r["event_type"])
        # append-mode emits only watermark-closed windows; every emitted
        # window must match the batch oracle exactly
        if key in got_n:
            assert got_n[key] == r["n_events"]


def test_cocommit_pair_stream_matches_batch(spark, tmp_path):
    """The streaming pair emission must agree with the batch twin: same
    bucketing (event_type x window), same distinct-user pair semantics,
    exactly-once per bucket — and the sink must feed batch Louvain."""
    from pyspark.sql import functions as F

    from parallel_louvain_method_spark.operators.louvain import louvain
    from parallel_louvain_method_spark.streaming.events import (
        cocommit_pair_stream,
        pair_edges_from_sink,
        read_event_stream,
        start_pair_edge_sink,
    )

    src = str(tmp_path / "events_src")
    out = str(tmp_path / "pairs_out")
    ck = str(tmp_path / "pairs_ck")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)

    stream = read_event_stream(spark, src)
    pairs = cocommit_pair_stream(stream, window="1 hour", watermark="2 hours")
    q = start_pair_edge_sink(pairs, out, ck)
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out)
    # batch twin over the same static table
    static = spark.read.parquet(src)
    bucketed = static.select(
        F.window("ts", "1 hour").alias("window"), "event_type", "user_id"
    ).distinct()
    want_pairs = (
        bucketed.alias("a")
        .join(bucketed.alias("b"), ["window", "event_type"])
        .filter(F.col("a.user_id") < F.col("b.user_id"))
        .select(
            "window", "event_type",
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
    )
    got_set = {
        (r["window"]["start"], r["event_type"], r["user_a"], r["user_b"])
        for r in got.collect()
    }
    want_set = {
        (r["window"]["start"], r["event_type"], r["user_a"], r["user_b"])
        for r in want_pairs.collect()
    }
    # append mode emits only watermark-closed windows: everything emitted
    # must be correct, and emitted windows must be complete
    assert got_set, "stream emitted nothing"
    assert got_set <= want_set
    emitted_buckets = {(w, e) for (w, e, _, _) in got_set}
    want_in_emitted = {
        t for t in want_set if (t[0], t[1]) in emitted_buckets
    }
    assert got_set == want_in_emitted  # exactly-once AND complete per bucket

    # the sink feeds the batch engine end-to-end
    edges = pair_edges_from_sink(spark, out)
    assert edges.filter(F.col("src") >= F.col("dst")).count() == 0
    res = louvain(spark, edges)
    assert res.assignment.count() == edges.selectExpr(
        "src AS v"
    ).union(edges.selectExpr("dst AS v")).distinct().count()


def test_user_sessions_stream_matches_batch(spark, tmp_path):
    """The applyInPandasWithState sessionizer must agree with the native
    session_window batch twin on every CLOSED session (a session closes
    when the event-time watermark passes last_ts + gap; the stream is fed
    in multiple micro-batches so the watermark actually advances)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from parallel_louvain_method_spark.streaming.events import (
        EVENTS_SCHEMA,
        read_event_stream,
        user_sessions_batch,
        user_sessions_stream,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ev(eid, minutes, user, value=1.0):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "e", value, "")

    # user 1: session A (0, 5, 9 min), session B (120, 121); user 2: one
    # session (3, 4); user 3: single-event session (1)
    batch1 = [ev(1, 0, 1), ev(2, 5, 1), ev(3, 9, 1), ev(4, 3, 2),
              ev(5, 4, 2), ev(6, 1, 3)]
    batch2 = [ev(7, 120, 1), ev(8, 121, 1)]
    # far-future flush: advances the watermark past every earlier session
    batch3 = [ev(9, 600, 9)]

    src = str(tmp_path / "sess_src")
    out = str(tmp_path / "sess_out")
    ck = str(tmp_path / "sess_ck")
    for i, rows in enumerate([batch1, batch2, batch3]):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # one file per trigger -> three micro-batches, watermark advances
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    sessions = user_sessions_stream(stream, gap_seconds=1800, watermark="1 minute")
    q = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    static = spark.read.parquet(src)
    # closed = watermark (max ts - 1 min) passed session_end + gap
    max_ts = static.agg(F.max("ts")).first()[0]
    wm = max_ts - dt.timedelta(minutes=1)
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["total_value"])
        for r in user_sessions_batch(static, gap_seconds=1800).collect()
        if r["session_end"] + dt.timedelta(seconds=1800) < wm
    }
    assert want, "test must produce at least one closed session"
    assert want <= got, (want - got, got)
    # nothing emitted that the batch twin doesn't know (open-tail leaks)
    all_batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["total_value"])
        for r in user_sessions_batch(static, gap_seconds=1800).collect()
    }
    assert got <= all_batch, (got - all_batch,)


def test_incremental_edge_ingest_stream(spark, tmp_path):
    """Two micro-batches of corpus rows through the foreachBatch ingest
    == one full rebuild over their union; replaying an epoch is a no-op
    (version-marker idempotence)."""
    from parallel_louvain_method_spark.sources.corpus import (
        shared_content_edges,
    )
    from parallel_louvain_method_spark.streaming.ingest import (
        edges_from_state,
        ingest_batch,
        latest_version,
        read_corpus_stream,
        start_incremental_edge_ingest,
    )

    def corpus_df(rows):
        return spark.createDataFrame(
            [(n, "p", c, "py", b) for n, c, b in rows],
            "repo string, path string, commit string, lang string, "
            "content string",
        )

    part1 = corpus_df(
        [("r1", "c0", "x"), ("r2", "c0", "x"), ("r3", "c0", "y")]
    )
    part2 = corpus_df(
        [("r3", "c1", "x"), ("r4", "c1", "y"), ("r5", "c1", "z")]
    )
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    part1.write.mode("append").parquet(src)
    stream = read_corpus_stream(spark, src)
    q = start_incremental_edge_ingest(stream, state, ck)
    try:
        q.processAllAvailable()
        v1 = latest_version(spark, state)
        assert v1 is not None
        part2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    v2 = latest_version(spark, state)
    assert v2 is not None and v2 > v1
    got = sorted(map(tuple, edges_from_state(spark, state).collect()))
    want = sorted(
        map(tuple, shared_content_edges(part1.union(part2))[0].collect())
    )
    assert got == want and len(got) >= 2
    # epoch replay (e.g. a foreachBatch retry) must be a skip, not a
    # double-apply
    rep = ingest_batch(spark, part2, state, v2)
    assert rep.get("skipped") is True
    assert sorted(
        map(tuple, edges_from_state(spark, state).collect())
    ) == want


def test_cli_ingest_stream_once(spark, tmp_path, capsys):
    import json

    from parallel_louvain_method_spark.cli import main
    from parallel_louvain_method_spark.sources.corpus import (
        shared_content_edges,
    )

    corpus = spark.createDataFrame(
        [("r1", "p", "c", "py", "x"), ("r2", "p", "c", "py", "x"),
         ("r3", "p", "c", "py", "y")],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    src = str(tmp_path / "src")
    corpus.write.parquet(src)
    assert main([
        "ingest-stream", "--src", src,
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ck"), "--once",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = shared_content_edges(corpus)[0].count()
    assert rep["edges"] == want == 1 and rep["version"] is not None


def test_prune_state_and_louvain_over_state(spark, tmp_path):
    """Three applied versions -> prune keeps the newest 2 and an older
    incomplete leftover dies; the maintained edge table feeds Louvain
    end-to-end (the full continuous-ingest story)."""
    from parallel_louvain_method_spark.operators.louvain import louvain
    from parallel_louvain_method_spark.sources.corpus import densify
    from parallel_louvain_method_spark.streaming.ingest import (
        edges_from_state,
        ingest_batch,
        latest_version,
        prune_state,
    )

    schema = (
        "repo string, path string, commit string, lang string, "
        "content string"
    )
    # two planted 3-repo communities sharing pool content, one weak link
    def corpus_df(rows):
        return spark.createDataFrame(
            [(n, "p", "c", "py", b) for n, b in rows], schema
        )

    state = str(tmp_path / "state")
    batches = [
        corpus_df([("a1", "x"), ("a2", "x"), ("a3", "x")]),
        corpus_df([("b1", "y"), ("b2", "y"), ("b3", "y")]),
        corpus_df([("a1", "w"), ("a2", "w"), ("b1", "z"), ("b2", "z"),
                   ("a3", "bridge"), ("b3", "bridge")]),
    ]
    for epoch, batch in enumerate(batches):
        ingest_batch(spark, batch, state, epoch)
    assert latest_version(spark, state) == 2
    # stale incomplete leftover (no marker)
    spark.createDataFrame([(0,)], "x long").write.parquet(
        f"{state}/v=1000000/edges"
    )
    import os
    os.rename(f"{state}/v=1000000", f"{state}/v=0.5".replace("0.5", "05"))
    # v=05 parses as 5 -> incomplete and NEWER than kept: must survive;
    # make an old incomplete too
    spark.createDataFrame([(0,)], "x long").write.parquet(
        f"{state}/v=-1/edges"
    )
    removed = prune_state(spark, state, keep=2)
    assert removed == [-1, 0]
    assert latest_version(spark, state) == 2
    assert sorted(os.listdir(state)) == ["v=05", "v=1", "v=2"]

    edges_str = edges_from_state(spark, state)
    edges, mapping = densify(edges_str)
    res = louvain(spark, edges)
    assert res.modularity > 0.3
    assert res.n_communities == 2


def test_state_diff_between_versions(spark, tmp_path):
    from parallel_louvain_method_spark.streaming.ingest import (
        ingest_batch,
        state_diff,
    )

    schema = (
        "repo string, path string, commit string, lang string, "
        "content string"
    )
    b0 = spark.createDataFrame(
        [("r1", "p", "c", "py", "x"), ("r2", "p", "c", "py", "x")], schema
    )
    b1 = spark.createDataFrame(
        [("r3", "p", "c", "py", "x"), ("r1", "p2", "c", "py", "y"),
         ("r2", "p2", "c", "py", "y")], schema
    )
    state = str(tmp_path / "state")
    ingest_batch(spark, b0, state, 0)
    ingest_batch(spark, b1, state, 1)
    got = {
        (r.node_a, r.node_b): r.status
        for r in state_diff(spark, state, 0, 1).collect()
    }
    # r1-r2 gains hash y (weight 1 -> 2: changed); r3 joins x pool (added)
    assert got == {
        ("r1", "r2"): "changed",
        ("r1", "r3"): "added",
        ("r2", "r3"): "added",
    }


def test_ingest_stream_restart_resume(spark, tmp_path):
    """Stop the ingest query and restart it with the SAME checkpoint and
    state dir: source offsets resume, epoch ids continue past the applied
    versions, and the final edge state equals the full rebuild — the
    exactly-once-across-restarts contract."""
    from parallel_louvain_method_spark.sources.corpus import (
        shared_content_edges,
    )
    from parallel_louvain_method_spark.streaming.ingest import (
        edges_from_state,
        latest_version,
        read_corpus_stream,
        start_incremental_edge_ingest,
    )

    schema = (
        "repo string, path string, commit string, lang string, "
        "content string"
    )

    def corpus_df(rows):
        return spark.createDataFrame(
            [(n, "p", c, "py", b) for n, c, b in rows], schema
        )

    parts = [
        corpus_df([("r1", "c0", "x"), ("r2", "c0", "x")]),
        corpus_df([("r3", "c1", "x"), ("r4", "c1", "y")]),
        corpus_df([("r5", "c2", "y"), ("r4", "c2", "z"), ("r6", "c2", "z")]),
    ]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    # first life: two batches
    parts[0].write.mode("append").parquet(src)
    q = start_incremental_edge_ingest(read_corpus_stream(spark, src), state, ck)
    try:
        q.processAllAvailable()
        parts[1].write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    v_before = latest_version(spark, state)

    # second life: same checkpoint + state, one more batch
    parts[2].write.mode("append").parquet(src)
    q2 = start_incremental_edge_ingest(
        read_corpus_stream(spark, src), state, ck
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    v_after = latest_version(spark, state)
    assert v_after > v_before  # epoch counter continued, not reset

    got = sorted(map(tuple, edges_from_state(spark, state).collect()))
    full = parts[0].union(parts[1]).union(parts[2])
    want = sorted(map(tuple, shared_content_edges(full)[0].collect()))
    assert got == want and len(got) >= 3
