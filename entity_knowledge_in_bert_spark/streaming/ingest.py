"""T1-T6 — Structured Streaming ingest path (SURVEY.md §2.10).

The reference is entirely batch [P]; this is the engine's incremental
path for crawl batches: readStream over the bronze directory, watermarked
event-time windows, stateful dedup, idempotent foreachBatch sink.

Batch/stream parity: every streaming aggregation here has an identical
batch formulation (``F.window`` works on batch DataFrames), which is what
the DuckDB oracle checks; the streaming tests assert stream(availableNow)
== batch on the same input.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """T1: file-source stream with an explicit schema (schema inference is
    forbidden on streaming sources at scale).

    The file source requires a directory; when given a single parquet
    file, stage a symlink directory (the bronze-landing-dir shape).
    """
    import os

    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        path = d
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T2+T3: watermarked tumbling-window counts per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
    )


def sliding_value_sum(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T4: sliding window (1h window, 15m slide) value sums."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "value_sum",
        )
    )


def stateful_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5: drop duplicate event_ids within the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stateful_user_profile(events: DataFrame) -> DataFrame:
    """T5+ — CUSTOM stateful streaming operator via applyInPandasWithState:
    a running per-user profile (event count, distinct event-type count,
    latest event time) whose state — the distinct-type SET — no built-in
    streaming aggregation can carry.

    Emits the running profile in Update mode after every micro-batch a
    user appears in. Every emitted measure is MONOTONE non-decreasing
    (count, set size, max), so ``max`` per user over the emission log
    equals the final profile REGARDLESS of how the source was split into
    micro-batches — that's the reduction ``stream_stateful_profile``
    applies before the batch-SQL oracle compares values.

    Arrow-batched like every other Python kernel here (the state rows and
    group rows cross the boundary as Arrow batches, not pickled rows).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, types, max_us = state.get
            seen = set(types)
        else:
            n, seen, max_us = 0, set(), 0
        for pdf in pdfs:
            n += len(pdf)
            seen.update(pdf["event_type"].tolist())
            max_us = max(max_us, int(pdf["ts"].max().value // 1000))
        state.update((n, sorted(seen), max_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_types": [len(seen)],
                "max_ts_us": [max_us],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, n_types int, max_ts_us long",
        stateStructType="n long, types array<string>, max_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_table(
    spark: SparkSession, stream_df: DataFrame, output_mode: str = "append"
) -> DataFrame:
    """T6: run a streaming query to completion (availableNow) into an
    in-memory table; returns the materialized result as a DataFrame.

    foreachBatch+MERGE is the production sink; the memory sink keeps the
    same exactly-once contract for tests/oracle comparison.
    """
    name = f"stream_{uuid.uuid4().hex[:10]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_incremental_er(
    spark: SparkSession,
    io,
    pages_dir: str,
    checkpoint_dir: str | None = None,
):
    """T1+T6 wired to the incremental ER plan (plans/incremental.py):
    stream crawled pages out of a bronze landing directory and fold each
    micro-batch into the clustered warehouse with IncrementalER.merge.

    This is the production shape of "entity resolution keeps up with the
    crawl": each micro-batch costs O(batch) — appends to the corpus
    tables plus a re-cluster of only the touched components — instead of
    the reference's full batch re-run [R: SURVEY.md §3.2].

    Exactly-once despite foreachBatch's at-least-once delivery: each
    micro-batch merges under a tag derived from (checkpoint, batch_id),
    and IncrementalER.merge skips a tag that already completed and rolls
    back a crashed attempt's partial snapshots before re-running — so
    the append chains never accumulate duplicate mention/key/edge rows
    and the cluster table matches a crash-free run. On the Iceberg
    catalog backend a replay that would need a rollback hard-fails.

    Requires a base warehouse already built by ERPipeline.run() (the
    frozen model_idf / block_salts artifacts). Runs with availableNow
    and blocks until the backlog drains; returns the updated cluster
    table.
    """
    import hashlib

    from ..plans.incremental import IncrementalER

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_er_")
    # batch_ids restart at 0 per checkpoint: scope tags to the checkpoint
    # so a fresh stream instance over the same warehouse never collides
    # with (and never wrongly skips because of) an older stream's tags.
    ckpt_id = hashlib.sha256(ckpt.encode()).hexdigest()[:12]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        IncrementalER(spark, io).merge(
            batch_df, tag=f"stream-{ckpt_id}-batch-{batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return io.read("stage_cluster")
