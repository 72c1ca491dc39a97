"""Streaming pipeline pieces (SURVEY §2.10, build-plan phase 7).

The reference has no streaming concept at all (grep for watermark/stream
yields nothing — SURVEY §1.1). These helpers give the engine a Structured
Streaming variant of the batch operators: readStream sources, watermarked
tumbling/sliding/session windows, dedup-within-watermark, and a
memory-sink test harness (`processAllAvailable` drives a bounded parquet
directory through the streaming engine synchronously — the recommended
local smoke pattern).

The batch/stream operator split is intentionally thin: a streaming query
is the same DataFrame expression over an unbounded source, so every
stateless operator in the registry (derived_column, filter, lookup against
a static dim, union) works unchanged on a streaming DataFrame.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators.agg import build_aggs
from ssis_to_pyspark_agent_spark.operators.sources_sinks import normalize_event_time
from ssis_to_pyspark_agent_spark.sources.catalog import read_parquet


def stream_events(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    max_files_per_trigger: int = 1,
    nanos_ts_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """readStream over a parquet directory (file source: the bounded-input
    test stand-in for kafka). Handles TIMESTAMP(NANOS) parquet columns the
    same way as the batch source (long nanos -> micros)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        # the session schema memo: footer inference runs once per path
        schema = read_parquet(spark, path, nanos_as_long=True).schema
    r = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    import os

    if path.endswith(".parquet") and "/" in path and not os.path.isdir(path):
        # FileStreamSource needs a directory; point at the parent and
        # glob-filter to the single file. A DIRECTORY named *.parquet
        # (a normal multi-part dataset) must NOT take this branch — the
        # glob would match zero part files and the stream silently
        # produces nothing.
        base, _, fname = path.rpartition("/")
        r = r.option("pathGlobFilter", fname)
        path = base
    df = r.parquet(path)
    # dtype-branching normalization (bigint nanos / TIMESTAMP_NTZ / TIMESTAMP):
    # withWatermark requires a true TIMESTAMP column, so NTZ must be converted.
    return normalize_event_time(df, [c for c in nanos_ts_cols if c in df.columns])


def windowed_agg(
    events: DataFrame,
    ts_col: str,
    window: str,
    aggs: dict,
    keys: list[str] | None = None,
    slide: str | None = None,
    watermark: str = "10 minutes",
    session_gap: str | None = None,
) -> DataFrame:
    """Watermarked windowed aggregation: tumbling (default), sliding
    (`slide`), or session (`session_gap`) windows."""
    e = events.withWatermark(ts_col, watermark)
    if session_gap:
        win = F.session_window(F.col(ts_col), session_gap)
    elif slide:
        win = F.window(F.col(ts_col), window, slide)
    else:
        win = F.window(F.col(ts_col), window)
    g = e.groupBy(win, *(keys or []))
    out = g.agg(*build_aggs(aggs))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact-dedup with bounded state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    how: str = "inner",
    watermark: str = "10 minutes",
    time_bound: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream join: equality on `keys` plus the
    event-time range `left_ts <= right_ts <= left_ts + time_bound`.

    Both sides buffer join state; the watermark + time-range condition is
    what lets Spark EVICT that state (without it, state grows without
    bound — Spark requires the range condition for append-mode
    stream-stream joins precisely because it bounds the buffer to
    watermark + time_bound per key). Outer variants emit the unmatched
    side only once the watermark passes the bound.

    Column-name hygiene: rename overlapping non-key columns on one side
    before this step — the join keeps both sides' columns.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = None
    for k in keys:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else cond & c
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    rng = (rt >= lt) & (rt <= lt + F.expr(f"INTERVAL {time_bound}"))
    cond = rng if cond is None else cond & rng
    joined = lw.join(rw, cond, how)
    # drop the duplicated key columns from the right side
    return joined.drop(*[F.col(f"r.{k}") for k in keys])


def _file_source_bytes(df: DataFrame) -> int | None:
    """Bytes of the files a bounded streaming plan reads: the sum over
    its ``StreamingRelation`` leaves (file sources: ``path`` plus
    ``pathGlobFilter``), listed through the Hadoop FileSystem — no Spark
    job. None when any streaming leaf is not a listable file source
    (rate, socket, kafka, a missing or glob path)."""
    from py4j.protocol import Py4JJavaError

    from ssis_to_pyspark_agent_spark.fs import hadoop_fs

    spark = df.sparkSession
    total = 0
    leaves = df._jdf.logicalPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            continue  # a static side (stream-static lookup) holds no state
        if leaf.nodeName() != "StreamingRelation":
            return None
        opts = leaf.dataSource().options()
        if not opts.contains("path"):
            return None
        glob = opts.get("pathGlobFilter")
        try:
            fs, _, root = hadoop_fs(spark, opts.apply("path"))
            accept = (
                spark._jvm.org.apache.hadoop.fs.GlobFilter(glob.get()).accept
                if glob.isDefined() else None
            )
            files = fs.listFiles(root, True)
            while files.hasNext():
                st = files.next()
                name = st.getPath().getName()
                if not name.startswith(("_", ".")) and (
                    accept is None or accept(st.getPath())
                ):
                    total += st.getLen()
        except Py4JJavaError:
            return None
    return total


def state_partitions_for(df: DataFrame) -> int:
    """Stateful shuffle width for a bounded streaming query:
    ``clamp(ceil(source bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes),
    1, spark.sql.shuffle.partitions)`` — the batch engine's partition
    target applied to the replayed input. Stateful operators open one
    state store per shuffle partition per micro-batch (a stream-stream
    join opens four), each paying fixed WAL/commit/maintenance cost
    whatever its row count; the round-9 sweep (PLANS.md) measured that
    cost as linear in the partition count, with the fewest partitions
    fastest at every key count it tried. A plan whose sources cannot be
    sized keeps the session width."""
    spark = df.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    size = _file_source_bytes(df)
    if size is None:
        return width
    target = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return min(max(-(-size // target), 1), width)


@contextmanager
def _state_partitions(df: DataFrame):
    """Scope ``spark.sql.shuffle.partitions`` to
    ``state_partitions_for(df)`` around a streaming-query START. The
    width is captured into the query's checkpoint at first start (it is
    the state-store count, and cannot change later without a new
    checkpoint); restoring after start is safe because StreamExecution
    clones the session conf when the query starts. ONLY ``.start()``
    belongs inside the scope: holding it across the synchronous drain
    would leak the override to every batch job another thread plans
    meanwhile."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions_for(df)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_stream_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
) -> None:
    """Drive a (bounded-source) streaming DataFrame to completion into an
    in-memory table `name` — synchronous, for tests/smoke. The stateful
    shuffle width is derived from the source size and scoped around
    ``.start()`` ONLY (see _state_partitions) — the drain runs with the
    session conf restored."""
    with _state_partitions(df):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stateful_counter(
    events: DataFrame,
    keys: list[str],
    out_col: str = "n",
) -> DataFrame:
    """Custom stateful streaming operator (the Script-Component-with-state
    analogue): a running per-key event counter via
    ``applyInPandasWithState``. Each micro-batch updates the persisted
    per-key state and emits the new running total, so in update mode the
    sink sees a monotone series per key whose MAX is the final count —
    equal to the batch ``groupBy(keys).count()`` on a bounded replay
    regardless of part-file arrival order.

    State is one bigint per key; NoTimeout because the bounded-replay
    contract wants every key's final total (real deployments would use
    event-time timeout to shed idle keys)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(
        f"{k} {events.schema[k].dataType.simpleString()}" for k in keys
    )

    def count_events(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            {**{k: [key[i]] for i, k in enumerate(keys)}, out_col: [total]}
        )

    return events.groupBy(*keys).applyInPandasWithState(
        count_events,
        outputStructType=f"{key_schema}, {out_col} bigint",
        stateStructType=f"{out_col} bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
