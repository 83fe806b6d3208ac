"""Source-format breadth: the same transcripts land identically from
parquet, CSV, and JSONL, and the extraction plan runs unchanged on each."""

import os

import pytest

from arabic_ocr_spark.sources.readers import read_transcripts


@pytest.fixture(scope="module")
def three_formats(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("formats"))
    rows = [
        ("conv_x", 0, "user", "payload-a", "", "2026-01-01 10:00:00"),
        ("conv_x", 1, "assistant", "", "search", "2026-01-01 10:01:00"),
        ("conv_y", 0, "user", 'quote " comma, newline ok', "", "2026-01-01 11:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool", "CAST(ts_s AS TIMESTAMP) ts")
    df.coalesce(1).write.parquet(os.path.join(d, "pq"))
    df.coalesce(1).write.option("header", "true").option("escape", '"').csv(os.path.join(d, "csv"))
    df.coalesce(1).write.json(os.path.join(d, "json"))
    return d


def test_all_formats_read_identically(spark, three_formats):
    key = ["conv_id", "turn_idx"]
    base = read_transcripts(spark, os.path.join(three_formats, "pq"), "parquet")
    assert [f.name for f in base.schema.fields] == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    a = sorted(map(tuple, base.collect()))
    for fmt in ("csv", "json"):
        got = sorted(map(tuple, read_transcripts(spark, os.path.join(three_formats, fmt), fmt).collect()))
        assert got == a, fmt
    assert len(a) == 3


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported"):
        read_transcripts(spark, "/nowhere", "xml")


def test_extraction_plan_runs_on_csv_source(spark, three_formats):
    from pyspark.sql import functions as F

    from arabic_ocr_spark.job import ExtractionJobConfig, plan_extraction
    from arabic_ocr_spark.sources.synth import default_model_path

    df = read_transcripts(spark, os.path.join(three_formats, "csv"), "csv").filter(F.col("text") != "")
    cfg = ExtractionJobConfig(num_chunks=4, model_path=default_model_path())
    out = plan_extraction(spark, df, cfg).collect()
    # payloads are not valid envelopes -> every turn present, ok=False
    assert len(out) == 2
    assert all(not r["ok"] and r["extracted_text"] == "" for r in out)


@pytest.fixture(scope="module")
def pandas_written(tmp_path_factory):
    """A small synth transcripts table re-written by pandas' to_parquet, so
    its `ts` is INT64 TIMESTAMP(NANOS), plus the synth's golden table."""
    import pyarrow.parquet as pq

    from arabic_ocr_spark.sources.synth import SynthConfig, synthesize

    d = str(tmp_path_factory.mktemp("pandas_ts"))
    synthesize(d, SynthConfig(n_convs=6, pool_size=8, mean_turns=4))
    pdf = pq.read_table(os.path.join(d, "transcripts.parquet")).to_pandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[ns]")
    os.makedirs(os.path.join(d, "in"))
    f = os.path.join(d, "in", "part-0.parquet")
    pdf.to_parquet(f)
    assert str(pq.read_schema(f).field("ts").type) == "timestamp[ns]"
    return d


def _assert_extracted_all(spark, d, out):
    from pyspark.sql import functions as F

    result = spark.read.parquet(os.path.join(out, "data"))
    golden = spark.read.parquet(os.path.join(d, "transcripts_golden.parquet"))
    n_payloads = spark.read.parquet(os.path.join(d, "transcripts.parquet")).filter("text != ''").count()
    j = result.join(golden, ["conv_id", "turn_idx"])
    assert result.count() == j.count() == n_payloads > 0
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0


def test_batch_extraction_reads_nanosecond_ts(spark, pandas_written, tmp_path):
    """Extraction never reads `ts`, so a pandas-written input (nanosecond
    timestamps Spark cannot infer as a timestamp) extracts like any other,
    and the session's parquet settings are left as they were."""
    from arabic_ocr_spark.job import ExtractionJobConfig, run_extraction
    from arabic_ocr_spark.sources.synth import default_model_path

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    out = str(tmp_path / "out")
    cfg = ExtractionJobConfig(num_chunks=4, num_waves=2, model_path=default_model_path())
    run_extraction(spark, os.path.join(pandas_written, "in"), out, cfg)
    assert spark.conf.get(key) == before
    _assert_extracted_all(spark, pandas_written, out)


def test_streaming_extraction_reads_nanosecond_ts(spark, pandas_written, tmp_path):
    from arabic_ocr_spark.job import ExtractionJobConfig
    from arabic_ocr_spark.sources.synth import default_model_path
    from arabic_ocr_spark.streaming.stream_job import run_streaming_extraction

    out = str(tmp_path / "out")
    cfg = ExtractionJobConfig(num_chunks=4, num_waves=1, model_path=default_model_path())
    run_streaming_extraction(spark, os.path.join(pandas_written, "in"), out, cfg)
    _assert_extracted_all(spark, pandas_written, out)
