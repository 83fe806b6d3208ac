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

from ..job import ExtractionJobConfig, commit_unit, plan_extraction
from ..kernel.classifier import CharModel

__all__ = ["run_streaming_extraction", "streaming_events_hourly", "streaming_conv_progress",
           "streaming_payload_quality", "streaming_dedup_payloads",
           "streaming_neardup_payloads"]


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


def streaming_neardup_payloads(transcripts_stream, watermark: str = "1 hour",
                               bits: int = 32):
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
        transcripts_stream, simhash_expr(F.col("text"), bits), watermark)


def streaming_payload_quality(transcripts_stream):
    """Map-only payload validity/shape sweep on an unbounded stream: the
    JVM-side envelope decode (operators/multimodal.payload_meta) contains no
    aggregation or Python, so it applies to a readStream DataFrame directly
    — the cheap front gate that routes malformed payloads to a dead-letter
    sink before any stateful or Python-side work."""
    from ..operators.multimodal import payload_meta

    return payload_meta(transcripts_stream)

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def run_streaming_extraction(
    spark,
    input_dir: str,
    output_dir: str,
    cfg: ExtractionJobConfig | None = None,
    model: CharModel | None = None,
    available_now: bool = True,
    pre_gate=None,
    max_files_per_trigger: int = 8,
):
    """Start (and, with available_now, drain) the streaming extraction.
    Returns the StreamingQuery.

    pre_gate: optional stream-to-stream transform applied to the UNBOUNDED
    stream before the per-batch extraction plan — the composition point for
    the stateful front gates (streaming_dedup_payloads /
    streaming_neardup_payloads), whose cross-batch suppression state must
    live upstream of foreachBatch.  A gated re-send is dropped before it
    occupies a kernel slot, the streaming twin of the batch
    dedup-before-compute option."""
    from pyspark.sql import functions as F

    cfg = cfg or ExtractionJobConfig()
    model = model or CharModel.load(cfg.model_path)
    # broadcast ONCE for the stream's lifetime: foreachBatch runs per
    # micro-batch, and a per-batch broadcast would accumulate un-unpersisted
    # broadcast blocks on executors over a long-running stream
    model_bc = spark.sparkContext.broadcast(model)
    templates_bc = spark.sparkContext.broadcast([])
    # like the broadcasts: resolve the (static) golden table once for the
    # stream's lifetime, not once per micro-batch
    golden = spark.read.parquet(cfg.golden_path) if cfg.golden_path else None
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    if pre_gate is not None:
        stream = pre_gate(stream)

    def process_batch(batch_df, batch_id: int):
        df = batch_df.filter(F.col("text") != "") if cfg.require_payload else batch_df
        result = plan_extraction(
            df.sparkSession, df, cfg, model_bc=model_bc, templates_bc=templates_bc
        )
        # idempotent per batch id; lineage's `wave` column carries the
        # micro-batch id, so one consumer reads batch and streaming lineage
        commit_unit(df.sparkSession, result, output_dir, "batch", int(batch_id), golden)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
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


def streaming_events_hourly(events_stream, watermark: str = "2 hours"):
    """Watermarked tumbling 1-hour rollup (append-mode compatible)."""
    from pyspark.sql import functions as F

    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs TZ timestamps
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "sum_value")
    )
