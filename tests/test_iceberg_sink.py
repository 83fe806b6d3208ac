"""Iceberg wave sink: the production `writeTo(...).overwritePartitions()`
path, exercised against a recorded writer double (no Iceberg runtime jar in
this sandbox, so the catalog probe is monkeypatched; the call sequence and
its idempotency contract are what a real catalog consumes)."""

import os

import pytest
from pyspark.sql.classic.dataframe import DataFrame  # the runtime instance class

import arabic_ocr_spark.job as job
from arabic_ocr_spark.job import ExtractionJobConfig, run_extraction
from arabic_ocr_spark.sources.synth import SynthConfig, default_model_path, synthesize


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("synth_ice"))
    synthesize(d, SynthConfig(n_convs=10, pool_size=15, mean_turns=4))
    return d


class _RecordingWriter:
    def __init__(self, log, table, df):
        self.log, self.table, self.df = log, table, df

    def overwritePartitions(self):
        # a real catalog replaces exactly the partitions present in the df;
        # record table, the wave partition values, and the row count
        waves = sorted(r["wave"] for r in self.df.select("wave").distinct().collect())
        self.log.append((self.table, tuple(waves), self.df.count()))


@pytest.fixture()
def iceberg_double(monkeypatch):
    log: list = []
    monkeypatch.setattr(job, "_iceberg_available", lambda spark: True)
    orig = DataFrame.writeTo
    monkeypatch.setattr(
        DataFrame, "writeTo", lambda self, table: _RecordingWriter(log, table, self)
    )
    yield log
    assert DataFrame.writeTo is not orig or True


def _cfg():
    return ExtractionJobConfig(
        num_chunks=8, num_waves=3, model_path=default_model_path(),
        iceberg_table="warehouse.db.turns",
    )


def test_one_snapshot_commit_per_wave(spark, synth_dir, tmp_path, iceberg_double):
    out = str(tmp_path / "out")
    stats = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    assert stats["waves_run"] == 3
    assert len(iceberg_double) == 3
    tables = {t for t, _w, _n in iceberg_double}
    assert tables == {"warehouse.db.turns"}
    # each commit carries exactly its own wave partition
    assert sorted(w for _t, (w,), _n in iceberg_double) == [0, 1, 2]
    # commits carry all rows between them (dual-write parity with parquet)
    parquet_rows = spark.read.parquet(os.path.join(out, "data")).count()
    assert sum(n for _t, _w, n in iceberg_double) == parquet_rows


def test_recommit_is_per_wave_idempotent(spark, synth_dir, tmp_path, iceberg_double):
    out = str(tmp_path / "out")
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    first = list(iceberg_double)

    # resume with all lineage present: no wave recomputes, no new snapshots
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    assert iceberg_double == first

    # lose wave 1's lineage -> exactly that wave recommits, same partition,
    # same row count (overwritePartitions makes the retry idempotent)
    import shutil

    shutil.rmtree(os.path.join(out, "lineage", "wave=1"))
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    assert len(iceberg_double) == len(first) + 1
    t, waves, n = iceberg_double[-1]
    prev = next(e for e in first if e[1] == (1,))
    assert (t, waves, n) == prev


def test_streaming_refuses_iceberg_table(tmp_path):
    """The stream commits parquet only, so a configured table is refused
    instead of silently never written (it raises before any Spark call)."""
    from arabic_ocr_spark.streaming.stream_job import run_streaming_extraction

    with pytest.raises(ValueError, match="iceberg_table"):
        run_streaming_extraction(None, str(tmp_path), str(tmp_path / "out"), _cfg())


def test_table_input_source(spark, synth_dir, tmp_path):
    """input_table reads through the catalog (spark.table) — the production
    Iceberg source path — and produces the same run as the parquet path."""
    import pytest as _pytest

    spark.read.parquet(f"{synth_dir}/transcripts.parquet").createOrReplaceTempView(
        "transcripts_view"
    )
    out = str(tmp_path / "out_tbl")
    cfg = ExtractionJobConfig(num_chunks=8, num_waves=2, model_path=default_model_path())
    stats = run_extraction(spark, None, out, cfg, input_table="transcripts_view")
    assert stats["waves_run"] == 2
    n_tbl = spark.read.parquet(os.path.join(out, "data")).count()
    n_src = spark.read.parquet(f"{synth_dir}/transcripts.parquet").filter("text <> ''").count()
    assert n_tbl == n_src

    with _pytest.raises(ValueError, match="exactly one"):
        run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, cfg,
                       input_table="transcripts_view")
    with _pytest.raises(ValueError, match="exactly one"):
        run_extraction(spark, None, out, cfg)
