"""Structured Streaming coverage (SURVEY §2.10 — all NEW vs the batch-only
reference): tumbling/sliding/session windows, dedup-within-watermark,
stateful applyInPandasWithState, and batch/stream result agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.streaming import (
    run_stream_to_memory,
    stream_events,
    windowed_agg,
)
from ssis_to_pyspark_agent_spark.streaming.runner import dedup_within_watermark

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def batch_events(spark):
    from ssis_to_pyspark_agent_spark.operators.sources_sinks import (
        normalize_event_time,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_time(spark.read.parquet(EVENTS), ["ts"])


def test_tumbling_stream_matches_batch(spark, batch_events):
    ev = stream_events(spark, EVENTS)
    agg = windowed_agg(ev, "ts", "1 hour", {"n": ("count", "*")},
                       keys=["event_type"])
    run_stream_to_memory(agg, "t_tumble", output_mode="complete")
    got = spark.table("t_tumble")
    want = (
        batch_events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got.count() == want.count()
    assert got.agg(F.sum("n")).first()[0] == batch_events.count()


def test_sliding_window(spark):
    ev = stream_events(spark, EVENTS)
    agg = windowed_agg(ev, "ts", "2 hours", {"n": ("count", "*")},
                       slide="1 hour")
    run_stream_to_memory(agg, "t_slide", output_mode="complete")
    got = spark.table("t_slide")
    # every event lands in exactly 2 sliding windows
    total_events = 1000
    assert got.agg(F.sum("n")).first()[0] == 2 * total_events


def test_session_window_stream(spark, batch_events):
    ev = stream_events(spark, EVENTS)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
    )
    run_stream_to_memory(agg, "t_sess", output_mode="complete")
    got = spark.table("t_sess")
    # session totals must cover every event exactly once
    assert got.agg(F.sum("n")).first()[0] == batch_events.count()
    # and match the batch lag/gap sessionization count per user
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = (
        batch_events.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev") > 1800)
            ).cast("int"),
        )
        .agg(F.sum("new_s"))
        .first()[0]
    )
    assert got.count() == sessions


def test_dedup_within_watermark(spark):
    ev = stream_events(spark, EVENTS)
    dd = dedup_within_watermark(ev, ["user_id"], "ts", watermark="10 days")
    run_stream_to_memory(dd, "t_dd", output_mode="append")
    got = spark.table("t_dd")
    n_users = spark.read.parquet(EVENTS).select("user_id").distinct().count()
    assert got.count() == n_users


def test_stateful_apply_in_pandas_with_state(spark):
    """Custom stateful operator: running per-user event counter via
    applyInPandasWithState (the Script-Component-with-state analogue)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, EVENTS, max_files_per_trigger=1)

    def count_events(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

    out = ev.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id bigint, n bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_stream_to_memory(out, "t_state", output_mode="update")
    got = spark.table("t_state")
    want = (
        spark.read.parquet(EVENTS).groupBy("user_id").count()
    )
    got_map = {r.user_id: r.n for r in got.collect()}
    for r in want.collect():
        assert got_map[r.user_id] == r["count"]


def test_streaming_pipeline_reuses_batch_operators(spark):
    """A Pipeline with a streaming source runs the SAME stateless operators
    (filter with SSIS expression, derived_column) before a watermarked agg —
    no streaming-specific operator code."""
    from ssis_to_pyspark_agent_spark.plans import Pipeline, run_pipeline

    p = (
        Pipeline("stream_pipe")
        .step("src", "source.stream", path=EVENTS)
        .step("flt", "filter", "src", predicate='[event_type] != "error"')
        .step("drv", "derived_column", "flt",
              columns={"vbig": "[value] > 50.0 ? 1 : 0"})
        .step("agg", "stream.window_agg", "drv", ts_col="ts",
              window="1 hour", watermark="2 hours", keys=["event_type"],
              aggs={"n": ("count", "*"), "n_big": ("sum", "vbig")})
        .step("out", "sink.memory_stream", "agg", table="t_pipe",
              output_mode="complete")
    )
    res = run_pipeline(spark, p)
    got = res.df("out")
    batch = spark.read.parquet(EVENTS).filter("event_type != 'error'")
    assert got.agg(F.sum("n")).first()[0] == batch.count()
    assert "error" not in {r.event_type for r in got.select("event_type").distinct().collect()}


def test_foreachbatch_parquet_sink(spark, tmp_path):
    from ssis_to_pyspark_agent_spark.plans import Pipeline, run_pipeline

    out = str(tmp_path / "stream_out")
    p = (
        Pipeline("stream_sink")
        .step("src", "source.stream", path=EVENTS)
        .step("flt", "filter", "src", predicate='[event_type] == "purchase"')
        .step("w", "sink.stream_parquet", "flt", path=out,
              checkpoint=str(tmp_path / "ckpt"))
    )
    res = run_pipeline(spark, p)
    written = res.df("w")
    want = spark.read.parquet(EVENTS).filter("event_type = 'purchase'").count()
    assert written.count() == want


def test_stream_stream_join_matches_batch(spark, batch_events):
    """views joined to purchases by the same user within 10 minutes —
    stream-stream inner join with watermark + time-range state eviction
    must produce exactly the batch join's pairs."""
    from ssis_to_pyspark_agent_spark.streaming.runner import stream_stream_join

    def split(df):
        views = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("b_ts"),
            F.col("event_id").alias("b_id"),
        )
        return views, buys

    sv, sb = split(stream_events(spark, EVENTS, max_files_per_trigger=1))
    joined = stream_stream_join(
        sv, sb, keys=["user_id"], left_ts="v_ts", right_ts="b_ts",
        watermark="5 minutes", time_bound="10 minutes",
    )
    run_stream_to_memory(joined, "t_ssj", output_mode="append")
    got = {
        (r["v_id"], r["b_id"])
        for r in spark.table("t_ssj").select("v_id", "b_id").collect()
    }

    bv, bb = split(batch_events)
    expected = {
        (r["v_id"], r["b_id"])
        for r in bv.join(bb, "user_id")
        .filter(
            (F.col("b_ts") >= F.col("v_ts"))
            & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 minutes"))
        )
        .select("v_id", "b_id")
        .collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_state_partitions_scoped_and_restored(spark, batch_events):
    """A streaming sink scopes spark.sql.shuffle.partitions to the
    derived state width around query start (captured into the query's
    checkpoint = the state-store count), restores the session conf, and
    changes NOTHING about the result of a stream-stream join, which
    keeps 4 state stores per partition per micro-batch."""
    from ssis_to_pyspark_agent_spark.operators import get_operator
    from ssis_to_pyspark_agent_spark.streaming.runner import (
        stream_events,
        stream_stream_join,
    )

    def split(df):
        views = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("b_ts"),
            F.col("event_id").alias("b_id"),
        )
        return views, buys

    before = spark.conf.get("spark.sql.shuffle.partitions")
    sv, sb = split(stream_events(spark, EVENTS, max_files_per_trigger=1))
    joined = stream_stream_join(
        sv, sb, keys=["user_id"], left_ts="v_ts", right_ts="b_ts",
        watermark="5 minutes", time_bound="10 minutes",
    )
    out = get_operator("sink.memory_stream")(
        spark, [joined],
        {"table": "t_ssj_sp"}, {},
    )
    got = {(r["v_id"], r["b_id"])
           for r in out.select("v_id", "b_id").collect()}
    # conf restored after the query started
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    bv, bb = split(batch_events)
    expected = {
        (r["v_id"], r["b_id"])
        for r in bv.join(bb, "user_id")
        .filter(
            (F.col("b_ts") >= F.col("v_ts"))
            & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 minutes"))
        )
        .collect()
    }
    assert len(expected) > 0 and got == expected


def test_state_partitions_parquet_sink(spark, tmp_path, batch_events):
    """The foreachBatch parquet sink derives the state width the same
    way the memory sink does: conf scoped around start, restored after,
    stateful results unchanged (windowed agg here). The advisory
    partition size is lowered to half the source so the derived width
    (2) differs from both the default (1) and the session width (4)."""
    import os

    from ssis_to_pyspark_agent_spark.operators import get_operator
    from ssis_to_pyspark_agent_spark.streaming.runner import (
        stream_events,
        windowed_agg,
    )

    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    before_advisory = spark.conf.get(advisory)
    agg = windowed_agg(
        stream_events(spark, EVENTS, max_files_per_trigger=1),
        ts_col="ts", window="10 minutes", aggs={"n": ("count", "*")},
    )
    spark.conf.set(advisory, str(os.path.getsize(EVENTS) // 2 + 1))
    try:
        out = get_operator("sink.stream_parquet")(
            spark, [agg],
            {"path": str(tmp_path / "out"), "mode": "append",
             "checkpoint": str(tmp_path / "ckpt")},
            {},
        )
    finally:
        spark.conf.set(advisory, before_advisory)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the derived width actually LANDED in the state store layout —
    # .start() clones the session synchronously, so restoring the conf
    # right after it cannot race the streaming thread's capture
    state0 = tmp_path / "ckpt" / "state" / "0"
    # digit-named dirs only: a Spark version adding other metadata
    # entries under state/0 must not fail the partition-count assertion
    part_dirs = [p.name for p in state0.iterdir() if p.name.isdigit()]
    assert sorted(part_dirs) == ["0", "1"]
    batch = windowed_agg(
        batch_events, ts_col="ts", window="10 minutes",
        aggs={"n": ("count", "*")},
    )
    got = {(r.window_start, r.n) for r in out.collect()}
    expect = {(r.window_start, r.n) for r in batch.collect()}
    # append mode only emits watermark-EXPIRED windows; every emitted
    # window must carry the exact batch count at 2 state partitions
    assert len(got) > 0 and got <= expect


def test_state_partitions_scoped_to_start_only(spark, monkeypatch):
    """The derived width must be live exactly at query START (that's
    when it's captured into the checkpoint = the state-store count) and
    RESTORED before the synchronous drain — a sink that held the
    session-global override across the whole processAllAvailable()
    would let batch jobs planned meanwhile (another thread, a
    foreachBatch body) silently inherit the streaming partition
    count."""
    from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

    from ssis_to_pyspark_agent_spark.operators import get_operator

    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = {}
    orig_start = DataStreamWriter.start
    orig_drain = StreamingQuery.processAllAvailable

    def spy_start(self, *a, **kw):
        seen["at_start"] = spark.conf.get("spark.sql.shuffle.partitions")
        return orig_start(self, *a, **kw)

    def spy_drain(self):
        seen["during_drain"] = spark.conf.get("spark.sql.shuffle.partitions")
        return orig_drain(self)

    monkeypatch.setattr(DataStreamWriter, "start", spy_start)
    monkeypatch.setattr(StreamingQuery, "processAllAvailable", spy_drain)
    agg = windowed_agg(
        stream_events(spark, EVENTS, max_files_per_trigger=1),
        ts_col="ts", window="10 minutes", aggs={"n": ("count", "*")},
    )
    get_operator("sink.memory_stream")(
        spark, [agg], {"table": "t_scope_drain"}, {},
    )
    assert before != "1"
    assert seen["at_start"] == "1"          # captured into the checkpoint
    assert seen["during_drain"] == before   # restored BEFORE the drain
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _capture_queries(monkeypatch):
    """Wrap DataStreamWriter.start to collect every query it starts."""
    from pyspark.sql.streaming import DataStreamWriter

    started = []
    orig_start = DataStreamWriter.start

    def start(self, *a, **kw):
        q = orig_start(self, *a, **kw)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return started


def _store_instances(q):
    return [op["numStateStoreInstances"]
            for op in q.lastProgress["stateOperators"]]


def test_state_partitions_derived_end_to_end(spark, batch_events,
                                              monkeypatch):
    """A memory sink with no sizing config runs the sf0.001 window agg
    on one state store (one partition x one store), and the results
    are identical to the batch oracle."""
    from ssis_to_pyspark_agent_spark.operators import get_operator

    started = _capture_queries(monkeypatch)
    agg = windowed_agg(
        stream_events(spark, EVENTS, max_files_per_trigger=1),
        ts_col="ts", window="10 minutes", aggs={"n": ("count", "*")},
    )
    out = get_operator("sink.memory_stream")(
        spark, [agg], {"table": "t_derived_sp", "output_mode": "complete"},
        {},
    )
    assert len(started) == 1 and _store_instances(started[0]) == [1]
    batch = windowed_agg(
        batch_events, ts_col="ts", window="10 minutes",
        aggs={"n": ("count", "*")},
    )
    got = {(r.window_start, r.n) for r in out.collect()}
    expect = {(r.window_start, r.n) for r in batch.collect()}
    assert got == expect


def test_state_partitions_rule(spark, tmp_path):
    """ceil(source bytes / advisory partition size), clamped to
    [1, spark.sql.shuffle.partitions]; an unsizable source keeps the
    session width."""
    import os

    from ssis_to_pyspark_agent_spark.operators import get_operator
    from ssis_to_pyspark_agent_spark.streaming.runner import (
        state_partitions_for,
    )

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width > 3
    agg = windowed_agg(
        stream_events(spark, EVENTS, max_files_per_trigger=1),
        ts_col="ts", window="10 minutes", aggs={"n": ("count", "*")},
    )
    # the sf0.001 events file is far below the 64 MB default target
    assert state_partitions_for(agg) == 1
    get_operator("sink.stream_parquet")(
        spark, [agg],
        {"path": str(tmp_path / "out"), "checkpoint": str(tmp_path / "ckpt")},
        {},
    )
    state0 = tmp_path / "ckpt" / "state" / "0"
    assert [p.name for p in state0.iterdir() if p.name.isdigit()] == ["0"]

    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(advisory)
    size = os.path.getsize(EVENTS)
    try:
        spark.conf.set(advisory, str(size // 3 + 1))
        assert state_partitions_for(agg) == 3
        spark.conf.set(advisory, "1")
        assert state_partitions_for(agg) == width
    finally:
        spark.conf.set(advisory, before)
    assert state_partitions_for(agg) == 1

    rate = spark.readStream.format("rate").load()
    assert state_partitions_for(rate.groupBy("value").count()) == width


def test_q78_state_store_budget(spark, sf_dir, batch_events, monkeypatch):
    """q78 at fixture scale: one state partition, so the stream-stream
    join opens 4 state stores per micro-batch, over 2 micro-batches (the
    data batch and the watermark-eviction batch), and its rows equal the
    batch join. A hand-set width coming back would multiply the store
    count, and the fixed per-store cost with it."""
    from ssis_to_pyspark_agent_spark.queries import QUERIES

    started = _capture_queries(monkeypatch)
    got = QUERIES["q78_stream_stream_join"](spark, sf_dir)
    assert len(started) == 1
    q = started[0]
    assert _store_instances(q) == [4]
    assert len(q.recentProgress) == 2

    v = batch_events.filter(F.col("event_type") == "view").alias("v")
    b = batch_events.filter(F.col("event_type") == "purchase").alias("b")
    want = v.join(
        b,
        (F.col("v.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("v.ts"))
        & (F.col("b.ts") <= F.col("v.ts") + F.expr("INTERVAL 10 minutes")),
    ).select(
        F.col("v.user_id").alias("user_id"),
        F.col("v.event_id").alias("v_id"),
        F.col("b.event_id").alias("b_id"),
        (F.unix_timestamp("b.ts") - F.unix_timestamp("v.ts"))
        .cast("bigint").alias("lag_s"),
    )
    assert want.count() > 0
    assert sorted(got.collect()) == sorted(want.collect())


def test_stream_events_schema_memo(spark):
    """stream_events takes its schema from the session memo: a second
    call on an unchanged path submits no Spark job (a bare
    spark.read.parquet(path).schema submits one every time)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return tracker.getJobIdsForGroup(group)

    stream_events(spark, EVENTS)
    assert jobs_in("stream_events_memo", lambda: stream_events(spark, EVENTS)) == []
    # the counter sees an inference job when there is one
    assert jobs_in("stream_events_infer",
                   lambda: spark.read.parquet(EVENTS).schema) != []
