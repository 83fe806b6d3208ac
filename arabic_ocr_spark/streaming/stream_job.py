"""Structured Streaming variants of the engine's two workloads.

1. Streaming extraction (`run_streaming_extraction`): the transcripts table
   as an append-only file stream -> the SAME batch plan (salted chunk,
   repartition, sortWithinPartitions, mapInPandas kernel) applied per
   micro-batch via foreachBatch.  Each micro-batch commits through the
   batch job's `job.commit_unit` (an idempotent `batch=<id>` data directory,
   then its lineage rows), and Spark's streaming checkpoint guarantees a
   killed stream resumes at the first uncommitted batch — the streaming twin
   of the batch job's wave checkpointing.
   (sortWithinPartitions is not allowed on an unbounded stream; inside
   foreachBatch the micro-batch is a bounded DataFrame, so the full batch
   plan applies unchanged.)

2. Streaming analytics (`streaming_events_hourly`): watermarked tumbling-
   window rollup over an events stream — late rows beyond the watermark are
   dropped, state is bounded by the window + watermark horizon.
"""

from __future__ import annotations

import os

from ..job import ExtractionJobConfig, _broadcasts, commit_unit, plan_extraction
from ..sources.readers import TRANSCRIPTS_SCHEMA

__all__ = ["run_streaming_extraction", "streaming_events_hourly", "streaming_conv_progress",
           "streaming_dedup_payloads", "streaming_neardup_payloads"]


def _suppress_within_watermark(transcripts_stream, key, watermark: str):
    """Drop non-blank turns whose `key` (a Column over the row) was already
    seen within the watermark horizon; dropDuplicatesWithinWatermark keeps
    one state entry per distinct key in the horizon, so state is bounded by
    the horizon, not the stream's length.  Blank turns (text = '', the
    contract's non-payload marker) carry no document and pass through
    un-deduped — they would otherwise all collapse onto one key and real
    turns would be lost."""
    from pyspark.sql import functions as F

    stamped = transcripts_stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    payloads = (
        stamped.filter(F.col("text") != "")
        .withColumn("_key", key)
        .dropDuplicatesWithinWatermark(["_key"])
        .drop("_key")
    )
    return payloads.unionByName(stamped.filter(F.col("text") == ""))


def streaming_dedup_payloads(transcripts_stream, watermark: str = "1 hour"):
    """Streaming exact PAYLOAD dedup: suppress turns whose (non-blank)
    payload md5 was already seen within the watermark horizon.  The
    streaming face of the batch dedup-before-compute option:
    retried/forwarded documents are suppressed before the expensive kernel
    sees them — intentionally ACROSS conversations, a repeated document is
    extracted once.  Blank turns pass through un-deduped."""
    from pyspark.sql import functions as F

    return _suppress_within_watermark(transcripts_stream, F.md5("text"), watermark)


def streaming_neardup_payloads(transcripts_stream, watermark: str = "1 hour"):
    """Streaming NEAR-duplicate payload suppression: drop turns whose text
    SimHash (a pure JVM expression, operators/dedup.simhash_expr — legal on
    unbounded streams) collides with one already seen within the watermark
    horizon.

    Scope: SimHash EQUALITY at 32 bits catches re-sends whose content
    changed only cosmetically — whitespace/token-order reformats collide by
    construction (the hash is a token-multiset function), small token edits
    collide whenever no bit vote changes sign — the regime most stream
    duplicates live in (retries whose envelope ids/timestamps moved but
    whose content barely did), while 2^32 buckets keep accidental
    cross-content collisions negligible at horizon scale (expected
    ~n^2/2^33 per horizon).  The full banded-Jaccard near-dup ladder stays a batch job;
    this is its cheap streaming front gate, state bounded exactly like
    streaming_dedup_payloads (one key per distinct hash in the horizon).
    Blank turns pass through un-deduped."""
    from pyspark.sql import functions as F

    from ..operators.dedup import simhash_expr

    return _suppress_within_watermark(
        transcripts_stream, simhash_expr(F.col("text"), 32), watermark)


def run_streaming_extraction(
    spark,
    input_dir: str,
    output_dir: str,
    cfg: ExtractionJobConfig | None = None,
    pre_gate=None,
    max_files_per_trigger: int = 8,
):
    """Run the streaming extraction over every file in input_dir
    (availableNow trigger: micro-batches of at most max_files_per_trigger
    files, then the query stops).  Returns the finished StreamingQuery.

    pre_gate: optional stream-to-stream transform applied to the UNBOUNDED
    stream before the per-batch extraction plan — the composition point for
    the stateful front gates (streaming_dedup_payloads /
    streaming_neardup_payloads), whose cross-batch suppression state must
    live upstream of foreachBatch.  A gated re-send is dropped before it
    occupies a kernel slot, the streaming twin of the batch
    dedup-before-compute option."""
    from pyspark.sql.types import StructType

    cfg = cfg or ExtractionJobConfig()
    # broadcast ONCE for the stream's lifetime, not once per micro-batch
    model_bc, templates_bc = _broadcasts(spark, cfg)
    # like the broadcasts: resolve the (static) golden table once for the
    # stream's lifetime, not once per micro-batch
    golden = spark.read.parquet(cfg.golden_path) if cfg.golden_path else None
    # extraction never reads `ts`, only a pre_gate's watermark does; read
    # without it, a file whose ts is INT64 TIMESTAMP(NANOS) (what pandas'
    # to_parquet writes) streams like any other
    schema = StructType.fromDDL(TRANSCRIPTS_SCHEMA)
    if pre_gate is None:
        schema = StructType([f for f in schema if f.name != "ts"])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    if pre_gate is not None:
        stream = pre_gate(stream)

    def process_batch(batch_df, batch_id: int):
        # the raw micro-batch: plan_extraction applies the input contract
        result = plan_extraction(
            batch_df.sparkSession, batch_df, cfg, model_bc=model_bc, templates_bc=templates_bc
        )
        # idempotent per batch id; lineage's `wave` column carries the
        # micro-batch id, so one consumer reads batch and streaming lineage
        commit_unit(batch_df.sparkSession, result, output_dir, "batch", int(batch_id), golden)

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


CONV_PROGRESS_SCHEMA = (
    "conv_id string, n_turns long, max_turn_idx int, n_payload long, done boolean"
)
_CONV_STATE_SCHEMA = "n long, mx int, np long"


def streaming_conv_progress(transcripts_stream, idle_timeout_ms: int = 0):
    """Custom stateful operator over the transcripts stream: per-
    conversation running progress via applyInPandasWithState.

    State per conv_id = (turns seen, max turn_idx, payload-bearing turns),
    carried across micro-batches by Spark's state store (so a conversation
    whose turns arrive in many batches accumulates exactly once per turn).
    Each update emits the running row with done=false; with
    idle_timeout_ms > 0, a conversation idle past the timeout emits a final
    done=true row and its state is removed — the streaming analog of
    "conversation closed, safe to hand to the batch extractor".

    Scale: state is O(active conversations) x 3 numbers; the stream shuffles
    once on conv_id (the same key the batch job salts), and per-batch work
    is Arrow-batched pandas over each group's new rows only."""
    import pandas as pd

    def track(key, pdfs, state):
        conv_id = key[0]
        if state.hasTimedOut:
            n, mx, np_ = state.get
            state.remove()
            yield pd.DataFrame(
                [{"conv_id": conv_id, "n_turns": n, "max_turn_idx": mx,
                  "n_payload": np_, "done": True}]
            )
            return
        n, mx, np_ = state.get if state.exists else (0, -1, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
                np_ += int((pdf["text"] != "").sum())
        state.update((n, mx, np_))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [{"conv_id": conv_id, "n_turns": n, "max_turn_idx": mx,
              "n_payload": np_, "done": False}]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if idle_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return (
        transcripts_stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(track, CONV_PROGRESS_SCHEMA, _CONV_STATE_SCHEMA, "update", timeout)
    )


def streaming_events_hourly(events_stream):
    """Watermarked tumbling 1-hour rollup (append-mode compatible); the
    watermark trails the latest event time by 2 hours, and rows arriving
    behind it are dropped."""
    from pyspark.sql import functions as F

    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs TZ timestamps
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "sum_value")
    )
