"""Structured Streaming tests: streaming extraction equals the batch job;
checkpoint prevents reprocessing; watermarked rollup matches the batch
rollup on closed data."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from arabic_ocr_spark.job import ExtractionJobConfig
from arabic_ocr_spark.sources.synth import SynthConfig, default_model_path, synthesize
from arabic_ocr_spark.streaming.stream_job import run_streaming_extraction, streaming_events_hourly


@pytest.fixture(scope="module")
def stream_synth(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ssynth"))
    synthesize(d, SynthConfig(n_convs=12, pool_size=20, mean_turns=4, skew_factor=5, skew_conv="conv_000003"))
    # the streaming file source wants a DIRECTORY of parquet files
    stream_in = os.path.join(d, "stream_in")
    os.makedirs(stream_in)
    shutil.copy(os.path.join(d, "transcripts.parquet"), os.path.join(stream_in, "part-0.parquet"))
    return d


def _cfg():
    return ExtractionJobConfig(num_chunks=8, num_waves=1, model_path=default_model_path())


def test_streaming_extraction_matches_golden(spark, stream_synth, tmp_path):  # noqa: F811
    out = str(tmp_path / "sout")
    run_streaming_extraction(spark, f"{stream_synth}/stream_in", out, _cfg())
    result = spark.read.parquet(os.path.join(out, "data"))
    golden = spark.read.parquet(f"{stream_synth}/transcripts_golden.parquet")
    j = result.join(golden, ["conv_id", "turn_idx"])
    assert j.count() == result.count() > 0
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0
    # lineage batches exist
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.agg(F.sum("rows_processed")).collect()[0][0] == result.count()


def test_streaming_checkpoint_no_reprocess(spark, stream_synth, tmp_path):  # noqa: F811
    out = str(tmp_path / "sout")
    run_streaming_extraction(spark, f"{stream_synth}/stream_in", out, _cfg())
    n1 = spark.read.parquet(os.path.join(out, "data")).count()
    batches1 = set(os.listdir(os.path.join(out, "data")))
    # second drain with the same checkpoint: no new files, no duplicates
    run_streaming_extraction(spark, f"{stream_synth}/stream_in", out, _cfg())
    n2 = spark.read.parquet(os.path.join(out, "data")).count()
    assert n1 == n2
    assert set(os.listdir(os.path.join(out, "data"))) == batches1


def test_streaming_events_hourly_matches_batch(spark, tmp_path):  # noqa: F811
    from arabic_ocr_spark.operators.relational import events_hourly

    events_path = "/root/testdata/sf0.001/events.parquet"
    batch = events_hourly(
        spark.read.parquet(events_path).withColumn("ts", F.col("ts").cast("timestamp"))
    ).withColumnRenamed("hour", "win_hour")
    stream_dir = str(tmp_path / "events_in")
    os.makedirs(stream_dir)
    shutil.copy(events_path, os.path.join(stream_dir, "part-0.parquet"))
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    q = (
        streaming_events_hourly(stream)
        .writeStream.format("memory")
        .queryName("ev_hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("select * from ev_hourly")
    b = {(r.win_hour, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()}
    s = {(r.hour, r.event_type): (r.n_events, r.sum_value) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_streaming_lineage_schema_equals_batch(spark, stream_synth, tmp_path):  # noqa: F811
    """One consumer reads both lineage tables: the streaming foreachBatch
    sink emits the canonical batch LINEAGE_SCHEMA (wave = micro-batch id),
    not a column subset."""
    from arabic_ocr_spark.job import LINEAGE_SCHEMA, RESULT_SCHEMA, run_extraction

    s_out, b_out = str(tmp_path / "sout"), str(tmp_path / "bout")
    run_streaming_extraction(spark, f"{stream_synth}/stream_in", s_out, _cfg())
    run_extraction(spark, f"{stream_synth}/transcripts.parquet", b_out, _cfg())

    # read the commit-unit dirs directly so partition discovery can't append
    # the directory-name column (batch=/wave=); file-level schemas must be
    # the canonical LINEAGE_SCHEMA on both paths
    s_lin = spark.read.parquet(os.path.join(s_out, "lineage", "batch=0"))
    b_lin = spark.read.parquet(os.path.join(b_out, "lineage", "wave=0"))
    canon = [(f.name, f.dataType) for f in spark.createDataFrame([], LINEAGE_SCHEMA).schema]
    assert [(f.name, f.dataType) for f in s_lin.schema] == canon
    assert [(f.name, f.dataType) for f in b_lin.schema] == canon
    # and so are the committed data files: the canonical RESULT_SCHEMA
    result = [(f.name, f.dataType) for f in spark.createDataFrame([], RESULT_SCHEMA).schema]
    for out, unit in ((s_out, "batch=0"), (b_out, "wave=0")):
        data = spark.read.parquet(os.path.join(out, "data", unit))
        assert [(f.name, f.dataType) for f in data.schema] == result
    # a consumer can union them directly
    assert s_lin.unionByName(b_lin).count() == s_lin.count() + b_lin.count()


def test_streaming_lineage_extraction_acc_with_golden(spark, stream_synth, tmp_path):  # noqa: F811
    """golden_path now applies on the streaming path too: every micro-batch's
    lineage rows carry extraction accuracy (exact => 1.0)."""
    cfg = _cfg()
    cfg.golden_path = f"{stream_synth}/transcripts_golden.parquet"
    out = str(tmp_path / "sout")
    run_streaming_extraction(spark, f"{stream_synth}/stream_in", out, cfg)
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    accs = [r.extraction_acc for r in lin.collect()]
    assert accs and all(a == 1.0 for a in accs)
