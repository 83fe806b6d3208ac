"""Custom stateful streaming operator (applyInPandasWithState): state must
accumulate across micro-batches per conversation."""

import os

import pandas as pd
import pytest

from arabic_ocr_spark.streaming.stream_job import TRANSCRIPTS_SCHEMA, streaming_conv_progress


@pytest.fixture()
def two_batch_input(tmp_path, spark):
    """Two parquet files = two micro-batches (maxFilesPerTrigger=1); conv_a
    spans both, conv_b only the first."""
    d = str(tmp_path / "in")
    os.makedirs(d)
    b1 = pd.DataFrame({
        "conv_id": ["conv_a", "conv_a", "conv_b"],
        "turn_idx": [0, 1, 0],
        "role": ["user", "assistant", "user"],
        "text": ["p1", "", "p2"],
        "tool": ["", "", ""],
        "ts": pd.to_datetime(["2026-01-01"] * 3),
    })
    b2 = pd.DataFrame({
        "conv_id": ["conv_a", "conv_a"],
        "turn_idx": [2, 3],
        "role": ["user", "assistant"],
        "text": ["p3", "p4"],
        "tool": ["", ""],
        "ts": pd.to_datetime(["2026-01-01"] * 2),
    })
    for name, pdf in (("f1", b1), ("f2", b2)):
        (spark.createDataFrame(pdf)
         .selectExpr("conv_id", "CAST(turn_idx AS INT) turn_idx", "role", "text", "tool", "ts")
         .coalesce(1).write.parquet(os.path.join(d, name)))
    return d


def test_conv_progress_accumulates_across_batches(spark, two_batch_input, tmp_path):
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(two_batch_input, "*"))
    )
    q = (
        streaming_conv_progress(stream)
        .writeStream.format("memory").queryName("conv_progress")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM conv_progress").collect()
    # final (latest) state per conversation: take the max n_turns emitted
    final = {}
    for r in rows:
        prev = final.get(r["conv_id"])
        if prev is None or r["n_turns"] > prev["n_turns"]:
            final[r["conv_id"]] = r
    # conv_a: 2 turns in batch 1 + 2 in batch 2 -> state carried across batches
    assert final["conv_a"]["n_turns"] == 4
    assert final["conv_a"]["max_turn_idx"] == 3
    assert final["conv_a"]["n_payload"] == 3  # one blank turn
    assert final["conv_b"]["n_turns"] == 1
    assert not final["conv_b"]["done"]
    # conv_a must have emitted an intermediate row too (update per batch)
    conv_a_counts = sorted(r["n_turns"] for r in rows if r["conv_id"] == "conv_a")
    assert conv_a_counts == [2, 4]


def test_conv_progress_idle_timeout_closes_conversation(spark, two_batch_input, tmp_path):
    """With idle_timeout_ms > 0 a conversation that receives no turns for
    the timeout emits one final done=true row with its totals, and its
    state is removed (the operator's only state eviction)."""
    import time

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(os.path.join(two_batch_input, "*"))
    q = (
        streaming_conv_progress(stream, idle_timeout_ms=1000)
        .writeStream.format("memory").queryName("conv_progress_idle")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # processing-time timeouts run in no-data batches: wait for them
        deadline = time.time() + 120
        while True:
            done = spark.sql("SELECT * FROM conv_progress_idle WHERE done").collect()
            progress = q.lastProgress
            state_rows = progress["stateOperators"][0]["numRowsTotal"] if progress else None
            if len(done) == 2 and state_rows == 0 or time.time() > deadline:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert q.exception() is None
    final = {r["conv_id"]: (r["n_turns"], r["max_turn_idx"], r["n_payload"]) for r in done}
    assert final == {"conv_a": (4, 3, 3), "conv_b": (1, 0, 1)}
    assert state_rows == 0
    running = spark.sql("SELECT * FROM conv_progress_idle WHERE NOT done").collect()
    assert {r["conv_id"] for r in running} == {"conv_a", "conv_b"}


def test_payload_quality_runs_on_unbounded_stream(spark, two_batch_input, tmp_path):
    """payload_meta is JVM-only and aggregation-free, so it must apply to a
    readStream DataFrame without foreachBatch (append mode)."""
    from arabic_ocr_spark.operators.multimodal import payload_meta

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .parquet(os.path.join(two_batch_input, "*"))
    )
    out = str(tmp_path / "out")
    q = (
        payload_meta(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5
    # fixture payloads are plain strings, not valid envelopes
    assert all(not r["valid"] and r["height"] == 0 for r in rows)


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """A payload repeated in a LATER micro-batch is suppressed by the
    watermark-bounded dedup state."""
    from arabic_ocr_spark.streaming.stream_job import streaming_dedup_payloads

    d = str(tmp_path / "in")
    os.makedirs(d)
    mk = lambda rows: (spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]))
        .selectExpr("conv_id", "CAST(turn_idx AS INT) turn_idx", "role", "text", "tool",
                    "CAST(ts AS TIMESTAMP) ts"))
    t0 = pd.Timestamp("2026-01-01 10:00:00")
    mk([("a", 0, "u", "PAYLOAD-1", "", t0),
        ("a", 1, "u", "PAYLOAD-2", "", t0 + pd.Timedelta(minutes=1)),
        ("a", 2, "u", "", "", t0 + pd.Timedelta(minutes=1, seconds=30))]) \
        .coalesce(1).write.parquet(os.path.join(d, "f1"))
    mk([("b", 0, "u", "PAYLOAD-1", "", t0 + pd.Timedelta(minutes=2)),   # dup of batch 1
        ("b", 1, "u", "PAYLOAD-3", "", t0 + pd.Timedelta(minutes=3)),
        ("b", 2, "u", "", "", t0 + pd.Timedelta(minutes=4))]) \
        .coalesce(1).write.parquet(os.path.join(d, "f2"))

    stream = (spark.readStream.schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(os.path.join(d, "*")))
    out = str(tmp_path / "out")
    q = (streaming_dedup_payloads(stream, watermark="2 hours")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    texts = sorted(r["text"] for r in rows)
    # payload dup dropped; BOTH blank turns pass through un-deduped
    assert texts == ["", "", "PAYLOAD-1", "PAYLOAD-2", "PAYLOAD-3"]
    assert {r["conv_id"] for r in rows if r["text"] == "PAYLOAD-1"} == {"a"}  # first wins
    assert {(r["conv_id"], r["turn_idx"]) for r in rows if r["text"] == ""} == {("a", 2), ("b", 2)}


def test_streaming_neardup_payloads_drops_light_edits(spark, tmp_path):
    """SimHash-keyed streaming near-dup: a lightly-edited re-send (same
    tokens, one dropped) collides on the 32-bit SimHash and is suppressed
    across micro-batches; genuinely different payloads and blanks pass."""
    import pandas as pd

    from arabic_ocr_spark.operators.dedup import simhash_expr
    from arabic_ocr_spark.streaming.stream_job import (
        TRANSCRIPTS_SCHEMA,
        streaming_neardup_payloads,
    )
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    # re-send with whitespace reformatted and tokens reordered: the token
    # multiset is unchanged, so the SimHash is identical by construction —
    # exactly the near-dup class exact (md5) dedup misses
    near = "  ".join(reversed(base.split()))
    other = "one two three four five six seven eight " * 6
    assert near != base
    # precondition: the light edit really does collide, the distinct doesn't
    sh = lambda t: spark.range(1).select(simhash_expr(F.lit(t), 32)).collect()[0][0]  # noqa: E731
    assert sh(base) == sh(near) and sh(base) != sh(other)

    d = str(tmp_path / "in")
    os.makedirs(d)
    mk = lambda rows: (spark.createDataFrame(  # noqa: E731
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]))
        .selectExpr("conv_id", "CAST(turn_idx AS INT) turn_idx", "role", "text", "tool",
                    "CAST(ts AS TIMESTAMP) ts"))
    t0 = pd.Timestamp("2026-01-01 10:00:00")
    mk([("a", 0, "u", base, "", t0),
        ("a", 1, "u", "", "", t0 + pd.Timedelta(minutes=1))]) \
        .coalesce(1).write.parquet(os.path.join(d, "f1"))
    mk([("b", 0, "u", near, "", t0 + pd.Timedelta(minutes=2)),    # near-dup of batch 1
        ("b", 1, "u", other, "", t0 + pd.Timedelta(minutes=3))]) \
        .coalesce(1).write.parquet(os.path.join(d, "f2"))

    stream = (spark.readStream.schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(os.path.join(d, "*")))
    out = str(tmp_path / "out")
    q = (streaming_neardup_payloads(stream, watermark="2 hours")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    kept = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    # near-dup re-send suppressed; original, the distinct doc and the blank kept
    assert kept == [("a", 0), ("a", 1), ("b", 1)]


def test_neardup_gate_composes_with_streaming_extraction(spark, tmp_path):
    """COMPOSED path: streaming_neardup_payloads as the pre_gate of
    run_streaming_extraction — a cosmetically-reformatted re-send
    (whitespace-padded base64: same whitespace-token multiset, so the same
    SimHash, but a different md5 and an undecodable envelope) is suppressed
    BEFORE the kernel: it neither occupies a kernel slot nor emits a junk
    ok=False row, while the original and a distinct document extract
    exactly once each.  The streaming mirror of the batch
    dedup-before-compute equivalence test."""
    import pandas as pd

    from arabic_ocr_spark.job import ExtractionJobConfig
    from arabic_ocr_spark.sources.codec import encode_payload
    from arabic_ocr_spark.sources.glyphs import compose_text_image
    from arabic_ocr_spark.sources.synth import default_model_path
    from arabic_ocr_spark.streaming.stream_job import (
        run_streaming_extraction,
        streaming_neardup_payloads,
    )

    img1, txt1 = compose_text_image(["abc defg"])
    img2, txt2 = compose_text_image(["hij Lmn"])
    p1, p2 = encode_payload(img1), encode_payload(img2)
    resend = "  " + p1 + " \n"  # cosmetic reformat of the same payload
    assert resend != p1

    d = str(tmp_path / "in")
    os.makedirs(d)
    mk = lambda rows: (spark.createDataFrame(  # noqa: E731
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]))
        .selectExpr("conv_id", "CAST(turn_idx AS INT) turn_idx", "role", "text", "tool",
                    "CAST(ts AS TIMESTAMP) ts"))
    t0 = pd.Timestamp("2026-01-01 10:00:00")
    mk([("a", 0, "u", p1, "", t0)]).coalesce(1).write.parquet(os.path.join(d, "f1"))
    mk([("b", 0, "u", resend, "", t0 + pd.Timedelta(minutes=2)),
        ("b", 1, "u", p2, "", t0 + pd.Timedelta(minutes=3))]) \
        .coalesce(1).write.parquet(os.path.join(d, "f2"))

    out = str(tmp_path / "out")
    cfg = ExtractionJobConfig(num_chunks=4, num_waves=1, model_path=default_model_path())
    # one file per trigger: the original arrives in an EARLIER micro-batch
    # than its re-send, so the suppression exercised is the cross-batch
    # state (within one batch the winner would be arbitrary)
    run_streaming_extraction(
        spark, os.path.join(d, "*"), out, cfg,
        pre_gate=lambda s: streaming_neardup_payloads(s, watermark="2 hours"),
        max_files_per_trigger=1,
    )
    result = spark.read.parquet(os.path.join(out, "data")).collect()
    got = {(r["conv_id"], r["turn_idx"]): r for r in result}
    assert set(got) == {("a", 0), ("b", 1)}  # the re-send never reached the kernel
    assert got[("a", 0)]["ok"] and got[("a", 0)]["extracted_text"] == txt1
    assert got[("b", 1)]["ok"] and got[("b", 1)]["extracted_text"] == txt2
