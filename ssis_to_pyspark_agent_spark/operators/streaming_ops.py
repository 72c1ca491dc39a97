"""Streaming source/sink operators: the batch operator library runs
unchanged on streaming DataFrames (SURVEY §1.1: the SSIS operator set is
mostly stateless-narrow, so a Pipeline becomes a streaming pipeline by
swapping the source and sink steps only).

Stateless ops (filter, derived_column, lookup against a static dim,
union_all, data_conversion, checksum, ...) work as-is; aggregations need
the watermarked `stream.window_agg` step below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import operator


@operator("source.stream")
def stream_source(spark: SparkSession, inputs, config, context) -> DataFrame:
    """File-based readStream (parquet dir or single file via glob filter);
    the bounded-input stand-in for kafka/kinesis in this image."""
    from ssis_to_pyspark_agent_spark.streaming import stream_events

    return stream_events(
        spark,
        config["path"],
        max_files_per_trigger=config.get("max_files_per_trigger", 1),
        nanos_ts_cols=tuple(config.get("nanos_ts_cols", ("ts",))),
    )


@operator("stream.window_agg")
def stream_window_agg(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Watermarked windowed aggregation step (tumbling / sliding /
    session)."""
    from ssis_to_pyspark_agent_spark.streaming import windowed_agg

    return windowed_agg(
        inputs[0],
        ts_col=config["ts_col"],
        window=config["window"],
        aggs=config["aggs"],
        keys=config.get("keys"),
        slide=config.get("slide"),
        watermark=config.get("watermark", "10 minutes"),
        session_gap=config.get("session_gap"),
    )


@operator("stream.dedup")
def stream_dedup(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Streaming exact-dedup with watermark-bounded state."""
    from ssis_to_pyspark_agent_spark.streaming.runner import dedup_within_watermark

    return dedup_within_watermark(
        inputs[0], config["keys"], config["ts_col"],
        watermark=config.get("watermark", "10 minutes"),
    )


@operator("stream.join")
def stream_join(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Watermarked stream-stream join (equality keys + event-time range
    bound — required for state eviction). inputs: [left, right]."""
    from ssis_to_pyspark_agent_spark.streaming.runner import stream_stream_join

    return stream_stream_join(
        inputs[0], inputs[1],
        keys=config["keys"],
        left_ts=config["left_ts"],
        right_ts=config["right_ts"],
        how=config.get("how", "inner"),
        watermark=config.get("watermark", "10 minutes"),
        time_bound=config.get("time_bound", "10 minutes"),
    )


@operator("sink.stream_parquet")
def stream_parquet_sink(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Production-shaped streaming sink: foreachBatch writing parquet with
    a checkpoint dir (exactly-once via batch-id idempotence; on Delta the
    same foreachBatch does MERGE). Runs the bounded stream to completion
    and returns the written data. The stateful shuffle width (the
    state-store count) is derived from the bytes of the plan's file
    sources — ceil(bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes),
    clamped to [1, spark.sql.shuffle.partitions]; an unsizable source
    keeps the session width — and scoped around this query's START only
    (see streaming.runner._state_partitions)."""
    from ssis_to_pyspark_agent_spark.streaming.runner import _state_partitions

    path = config["path"]
    checkpoint = config.get("checkpoint", path.rstrip("/") + "._checkpoint")
    mode = config.get("mode", "append")

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode(mode).parquet(path)

    with _state_partitions(inputs[0]):
        q = (
            inputs[0]
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode(config.get("output_mode", "append"))
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(path)


@operator("sink.memory_stream")
def memory_stream_sink(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Drive the streaming plan to completion into an in-memory table and
    return the (batch) result. For production use foreachBatch/parquet
    sinks with checkpointing; this is the synchronous test/demo sink.
    The stateful shuffle width is ceil(bytes of the plan's file sources /
    spark.sql.adaptive.advisoryPartitionSizeInBytes), clamped to
    [1, spark.sql.shuffle.partitions] (an unsizable source keeps the
    session width), and is scoped around query START only — the
    synchronous drain runs with the session conf restored, so batch jobs
    planned meanwhile (another thread, a foreachBatch body) don't
    inherit the streaming override."""
    from ssis_to_pyspark_agent_spark.streaming import run_stream_to_memory

    # key is `table`, not `name`: step config kwargs must not collide with
    # Pipeline.step(name=...)
    name = config["table"]
    run_stream_to_memory(
        inputs[0], name,
        output_mode=config.get("output_mode", "append"),
    )
    return spark.table(name)
