"""Streaming window aggregations, runnable as deterministic single-pass
(``Trigger.AvailableNow``) jobs with a memory sink.

Design for the oracle contract (SURVEY.md §7 "hard parts"): stream results
must be batch-equivalent and deterministic. Complete-output windowed
aggregation over a drained file source produces exactly the batch answer,
so tumbling/sliding/session keys are SQL-checkable. The late-data key
pins batch boundaries (two files, ``maxFilesPerTrigger=1``, mtime-ordered)
so the watermark cut is reproducible — rows-only checked.

Scale notes (100 TB/day streams): state store size is bounded by windows ×
keys; watermarks bound state retention for append mode; ``session_window``
state merges per key. Shuffle partitions should match state-store
parallelism (``spark.sql.shuffle.partitions`` is fixed at first checkpoint
for a real deployment).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_reader_setup


def _events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of events, ``ts`` normalized to a µs
    TimestampType whatever unit the files store (footer-sniffed via
    :func:`~serverless_etl_aws_spark.catalog.events_reader_setup`)."""
    read_schema, normalize = events_reader_setup(spark, src_dir)
    raw = (
        spark.readStream.schema(read_schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src_dir)
    )
    return normalize(raw)


def split_parquet_by_mod(
    src_file: str, dest_dir: str, n_files: int,
    order_col: str = "event_id", prefix: str = "events",
) -> list[str]:
    """Split one fixture parquet into ``n_files`` files by ``order_col %
    n_files``, with strictly increasing mtimes so a file source's
    processing order is pinned.

    Test/bench scaffolding only — it fabricates a multi-file landing dir
    from a single-fixture table, a job production never has (files arrive
    pre-split). Done driver-side with pyarrow in one pass: the previous
    per-split Spark filter+coalesce(1) jobs cost ~1 s of scheduling each
    at any scale factor while the split itself is I/O-bound."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(src_file)
    mod = tbl[order_col].to_numpy(zero_copy_only=False) % n_files
    out: list[str] = []
    for i in range(n_files):
        dest = os.path.join(dest_dir, f"{prefix}_{i}.parquet")
        pq.write_table(tbl.filter(pa.array(mod == i)), dest)
        mtime = time.time() - (n_files - i) * 10
        os.utime(dest, (mtime, mtime))
        out.append(dest)
    return out


def stage_events_dir(
    spark: SparkSession, sf_dir: str, scratch: str, n_files: int = 1,
    order_col: str = "event_id",
) -> str:
    """Copy the events fixture into a scratch streaming source dir, split
    into ``n_files`` parquet files with strictly increasing mtimes so the
    file source's processing order is pinned."""
    src = os.path.join(scratch, "events_src")
    if os.path.exists(src):
        shutil.rmtree(src)
    os.makedirs(src)
    if n_files == 1:
        fixture = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(fixture):
            # Multi-file fixture layout (round-13 file-layout axis): the
            # staged copy must still be ONE file so the file source's
            # processing order stays pinned — consolidate via pyarrow
            # (read_table accepts a directory).
            import pyarrow.parquet as pq

            pq.write_table(
                pq.read_table(fixture),
                os.path.join(src, "events_0.parquet"),
            )
        else:
            shutil.copy(fixture, os.path.join(src, "events_0.parquet"))
        return src
    split_parquet_by_mod(
        os.path.join(sf_dir, "events.parquet"), src, n_files,
        order_col=order_col,
    )
    return src


#: State-store parallelism for locally-drained streams. A streaming query
#: pins ``spark.sql.shuffle.partitions`` at its first checkpoint and AQE
#: never coalesces stateful exchanges, so every micro-batch pays one state
#: store + (for pandas ops) one Python worker round PER partition. At
#: fixture scale 32 near-empty state partitions are pure overhead (measured
#: 11.4 s → 4.3 s on stream_stateful by dropping 32 → 8); on a cluster pass
#: ``state_partitions`` of ~2× total cores instead.
STREAM_STATE_PARTITIONS = 8


def run_stream_to_memory(
    agg: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream once (AvailableNow) into a memory sink; return the
    materialized result. Shuffle partitions are temporarily pinned to
    ``state_partitions`` (default :data:`STREAM_STATE_PARTITIONS`) for the
    lifetime of the query — the value a streaming query captures at its
    first batch — then restored for the surrounding batch workload."""
    spark = agg.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(state_partitions or STREAM_STATE_PARTITIONS),
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # Snapshot the sink rows into block storage and DROP the memory-sink
    # temp view: the sink object holds every result row on the driver for
    # as long as the view is registered, so a long session draining many
    # streams (the bench: 7 stream keys × 2 runs) accumulates them all —
    # measured as multi-second GC stalls landing on whichever key runs
    # next. The localCheckpoint blocks are freed by the ContextCleaner as
    # soon as the returned DataFrame is garbage-collected.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """Per-event-type counts in 1-hour tumbling windows (epoch-aligned,
    same alignment as ``date_trunc('hour')``)."""
    return (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "event_count",
        )
    )


def sliding_counts(stream: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes — each event lands in 4."""
    return (
        stream.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "event_count",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap. Session
    end = last event + gap (Spark's session_window semantics — the oracle's
    gaps-and-islands SQL reproduces exactly that)."""
    return (
        stream.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "user_id",
            "event_count",
        )
    )


#: The streaming time axis starts at the Unix epoch: Spark initializes
#: the event-time watermark to 0 ms (1970-01-01T00:00:00Z), so a
#: watermarked stateful operator sees any PRE-epoch event as already
#: late and silently drops it on arrival — found by the round-10
#: epoch-1969 drift probe (every watermarked key emitted ZERO rows on
#: an all-pre-epoch corpus while the oracle emitted the full result).
#: Rather than leave the convention implicit in Spark internals, every
#: watermarked input filters pre-epoch rows explicitly and its oracle
#: mirrors the WHERE — both no-ops on sane data, and the engine's
#: behavior is now a declared contract: "no pre-epoch position on the
#: WATERMARKED time axis" (the un-watermarked batch-window keys keep
#: pre-epoch rows; they have no watermark to collide with).
EPOCH_FLOOR = "1970-01-01 00:00:00"


def epoch_floor_filter(stream: DataFrame, ts_col: str = "ts") -> DataFrame:
    return stream.filter(
        F.col(ts_col) >= F.lit(EPOCH_FLOOR).cast("timestamp")
    )


def late_data_counts(stream: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Watermarked tumbling counts in append mode: with a two-batch source
    (late batch second), rows older than ``max(ts seen) - delay`` are
    dropped, and only windows fully below the final watermark are emitted.
    Pre-epoch rows are excluded by the EPOCH_FLOOR contract (they would
    be dropped by the zero-initialized watermark anyway — the filter
    makes that Spark internal a declared, oracle-mirrored semantic)."""
    return (
        epoch_floor_filter(stream).withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "event_count",
        )
    )
