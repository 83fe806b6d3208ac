"""Spark end-to-end tests: per-turn equality vs the serial oracle, order
stability, resume-from-lineage, and skew spreading (SURVEY.md §5)."""

import contextlib
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

import arabic_ocr_spark.job as job
from arabic_ocr_spark.job import ExtractionJobConfig, read_lineage, run_extraction
from arabic_ocr_spark.session import get_spark
from arabic_ocr_spark.sources.synth import SynthConfig, default_model_path, synthesize


@pytest.fixture(scope="session")
def synth_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("synth"))
    synthesize(d, SynthConfig(n_convs=30, pool_size=40, mean_turns=6, skew_factor=30, skew_conv="conv_000007"))
    return d


def _cfg(**kw):
    base = dict(num_chunks=12, num_waves=3, model_path=default_model_path())
    base.update(kw)
    return ExtractionJobConfig(**base)


def _read_out(spark, out_dir):
    return spark.read.parquet(os.path.join(out_dir, "data"))


@contextlib.contextmanager
def _killed_after_first_wave():
    """A mid-run kill: the run's first wave commits, then the run raises."""
    commit = job.commit_unit

    def commit_then_die(*args, **kwargs):
        commit(*args, **kwargs)
        raise RuntimeError("injected failure after the first committed wave")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(job, "commit_unit", commit_then_die)
        yield


def test_extraction_matches_oracle(spark, synth_dir, tmp_path):
    out = str(tmp_path / "out")
    stats = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    assert stats["waves_run"] == 3
    result = _read_out(spark, out)
    golden = spark.read.parquet(f"{synth_dir}/transcripts_golden.parquet")
    j = result.join(golden, ["conv_id", "turn_idx"])
    total = j.count()
    assert total == result.count() > 0
    mismatches = j.filter(F.col("extracted_text") != F.col("expected_text")).count()
    assert mismatches == 0  # per-turn exact match rate == 1.0
    # levenshtein-based accuracy (reference edit.py semantics) is exactly 1
    acc = j.select(
        F.avg(
            F.greatest(
                F.lit(0.0),
                1
                - F.levenshtein(
                    F.regexp_replace("extracted_text", r"\s", ""),
                    F.regexp_replace("expected_text", r"\s", ""),
                )
                / F.greatest(F.length(F.regexp_replace("expected_text", r"\s", "")), F.lit(1)),
            )
        ).alias("acc")
    ).collect()[0]["acc"]
    assert acc == 1.0


def test_output_deterministic_across_runs(spark, synth_dir, tmp_path):
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out1, _cfg())
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out2, _cfg(num_waves=1))
    a = _read_out(spark, out1).select("conv_id", "turn_idx", "extracted_text", "ok")
    b = _read_out(spark, out2).select("conv_id", "turn_idx", "extracted_text", "ok")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resume_skips_committed_waves(spark, synth_dir, tmp_path):
    out = str(tmp_path / "out")
    with _killed_after_first_wave(), pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    lin1 = read_lineage(spark, out)
    committed = {r.committed_at for r in lin1.select("committed_at").distinct().collect()}
    assert lin1.select("wave").distinct().count() == 1

    stats = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    assert stats["waves_skipped"] == 1 and stats["waves_run"] == 2
    lin2 = read_lineage(spark, out)
    # wave 0's lineage rows are untouched (same commit stamp -> not recomputed)
    old = {r.committed_at for r in lin2.filter(F.col("wave").isin([w for w in range(3)][:1])).select("committed_at").distinct().collect()}
    assert committed == old
    # final output complete and oracle-equal
    result = _read_out(spark, out)
    golden = spark.read.parquet(f"{synth_dir}/transcripts_golden.parquet")
    j = result.join(golden, ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0
    # no duplicates
    assert result.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0


def test_partial_wave_dir_overwritten_idempotently(spark, synth_dir, tmp_path):
    out = str(tmp_path / "out")
    # simulate: wave data dir exists (partial/committed) but lineage missing
    stats = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    shutil.rmtree(os.path.join(out, "lineage", "wave=1"))
    stats2 = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    assert stats2["waves_skipped"] == 2 and stats2["waves_run"] == 1
    result = _read_out(spark, out)
    assert result.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0


def test_salting_spreads_skewed_conversation(spark, synth_dir, tmp_path):
    out = str(tmp_path / "out")
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    result = _read_out(spark, out)
    hot = result.filter(F.col("conv_id") == "conv_000007")
    n_hot = hot.count()
    assert n_hot > 50  # the skewed conversation is big
    spread = hot.select("chunk").distinct().count()
    # salted chunking splits the hot conversation across many chunks
    assert spread >= min(8, 12)
    per_chunk = [r["count"] for r in hot.groupBy("chunk").count().collect()]
    assert max(per_chunk) <= 3 * (n_hot / spread)  # no chunk hogs the conv


def test_blank_and_failed_turns_accounted(spark, synth_dir, tmp_path):
    out = str(tmp_path / "out")
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg())
    inp = spark.read.parquet(f"{synth_dir}/transcripts.parquet")
    n_payload = inp.filter(F.col("text") != "").count()
    lin = read_lineage(spark, out)
    assert lin.agg(F.sum("rows_processed")).collect()[0][0] == n_payload


def test_dedup_payloads_plan_equivalent(spark, synth_dir, tmp_path):
    """Distinct-payload extraction must produce byte-identical per-turn
    results to the direct plan (only task-level metadata may differ)."""
    from arabic_ocr_spark.job import plan_extraction

    df = spark.read.parquet(f"{synth_dir}/transcripts.parquet").filter(F.col("text") != "")
    # part_id included: both plans end in the same projection, so they must
    # agree on the partition that owns each row
    cols = ["conv_id", "turn_idx", "chunk", "part_id", "extracted_text", "n_lines", "n_words",
            "ok", "err"]
    direct = plan_extraction(spark, df, _cfg()).select(cols)
    cfg2 = _cfg()
    cfg2.dedup_payloads = True
    deduped = plan_extraction(spark, df, cfg2).select(cols)
    assert direct.count() == deduped.count()
    assert direct.exceptAll(deduped).count() == 0
    assert deduped.exceptAll(direct).count() == 0


@pytest.fixture(scope="module")
def grouped_run(spark, synth_dir, tmp_path_factory):
    """One 3-wave run with a golden table, its Spark jobs in their own job
    group: (stats, output dir, group)."""
    sc = spark.sparkContext
    out = str(tmp_path_factory.mktemp("grouped") / "out")
    group = f"job-count-{os.path.basename(os.path.dirname(out))}"
    cfg = _cfg(golden_path=f"{synth_dir}/transcripts_golden.parquet")
    sc.setJobGroup(group, group)
    try:
        stats = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events land asynchronously
    return stats, out, group


def test_spark_job_count_per_run(spark, grouped_run):
    """Pins the Spark jobs a 3-wave run with a golden table starts: the
    golden read happens once per run and every wave commit reads its files
    back with RESULT_SCHEMA (no schema-inference job per read-back)."""
    stats, _, group = grouped_run
    assert stats["waves_run"] == 3
    # 2 per run (schema reads of the input and the golden table) + 5 per
    # wave (the data and lineage writes with their shuffle stages) + 1 for
    # the one lineage collect that sums rows_written on the driver after the
    # last wave; a Spark-side sum would make it 19, a per-wave row count 23,
    # and a per-wave golden read with a schema-inferred read-back 28
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) == 18


def test_each_live_chunk_runs_in_its_own_task(spark, grouped_run):
    """Placement by chunk id: in a wave of C=12, W=3, the chunks w, w+3,
    w+6, w+9 land on partitions 0..3 (part_id = chunk div W), one chunk per
    partition, and the wave's kernel stage runs ceil(C/W) = 4 tasks — hash
    placement ran 12, most of them empty or holding several chunks."""
    _, out, group = grouped_run
    owners = (_read_out(spark, out).groupBy("wave", "part_id")
              .agg(F.countDistinct("chunk").alias("n"), F.min("chunk").alias("chunk")).collect())
    assert owners and all(r.n == 1 and r.part_id == r.chunk // 3 for r in owners)

    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    kernel_tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
        if 'label="MapInPandas"' in dot(store.operationGraphForStage(s))
    ]
    assert kernel_tasks == [4, 4, 4]


def test_lineage_extraction_accuracy(spark, synth_dir, tmp_path):
    out = str(tmp_path / "out")
    cfg = _cfg()
    cfg.golden_path = f"{synth_dir}/transcripts_golden.parquet"
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, cfg)
    lin = read_lineage(spark, out)
    # vs the oracle golden, every chunk is exact (the correctness gate)
    accs = [r.extraction_acc for r in lin.collect()]
    assert accs and all(a == 1.0 for a in accs)


def test_derived_salt_buckets_spread_skew(spark, synth_dir, tmp_path):
    """salt_buckets=None derives S from the sampled skew sketch; the run
    stays oracle-exact and the hot conversation still spreads."""
    from arabic_ocr_spark.job import derive_salt_buckets

    df = spark.read.parquet(f"{synth_dir}/transcripts.parquet").filter(F.col("text") != "")
    s = derive_salt_buckets(df, num_chunks=12, sample_fraction=0.5)
    assert s >= 2  # the 30x-skewed conversation forces salting on

    uniform = spark.range(200).selectExpr("concat('c', id % 100) AS conv_id")
    assert derive_salt_buckets(uniform, num_chunks=12, sample_fraction=1.0) <= 2

    out = str(tmp_path / "out")
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg(salt_buckets=None))
    result = _read_out(spark, out)
    golden = spark.read.parquet(f"{synth_dir}/transcripts_golden.parquet")
    j = result.join(golden, ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0
    hot = result.filter(F.col("conv_id") == "conv_000007")
    assert hot.select("chunk").distinct().count() >= 4


def test_resume_reuses_pinned_salt(spark, synth_dir, tmp_path, monkeypatch):
    """chunk/wave membership is a function of salt_buckets: a resumed run
    must reuse the salt pinned at first run, never re-derive it (a different
    sample could yield a different S and silently duplicate/drop rows)."""
    out = str(tmp_path / "out")
    with _killed_after_first_wave(), pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg(salt_buckets=None))

    def boom(*a, **k):
        raise AssertionError("resume must not re-derive salt buckets")

    monkeypatch.setattr(job, "derive_salt_buckets", boom)
    stats = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg(salt_buckets=None))
    assert stats["waves_skipped"] == 1 and stats["waves_run"] == 2
    result = _read_out(spark, out)
    assert result.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    golden = spark.read.parquet(f"{synth_dir}/transcripts_golden.parquet")
    j = result.join(golden, ["conv_id", "turn_idx"])
    assert j.count() == result.count()
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0

    # explicitly conflicting partitioning parameters are rejected
    with pytest.raises(ValueError, match="salted with"):
        run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg(salt_buckets=999))
    with pytest.raises(ValueError, match="resume must use the same"):
        run_extraction(spark, f"{synth_dir}/transcripts.parquet", out,
                       _cfg(num_chunks=5, salt_buckets=None))


def test_waves_with_dedup_payloads(spark, synth_dir, tmp_path):
    """Wave predicates and distinct-payload extraction compose: each wave
    dedups within its own rows, the union over waves is complete, exact,
    and duplicate-free, and resume still works."""
    out = str(tmp_path / "out")
    cfg = _cfg(dedup_payloads=True)
    with _killed_after_first_wave(), pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, cfg)
    stats = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out, _cfg(dedup_payloads=True))
    assert stats["waves_skipped"] == 1 and stats["waves_run"] == 2
    result = _read_out(spark, out)
    n_src = spark.read.parquet(f"{synth_dir}/transcripts.parquet").filter("text <> ''").count()
    assert result.count() == n_src
    assert result.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    golden = spark.read.parquet(f"{synth_dir}/transcripts_golden.parquet")
    j = result.join(golden, ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0


def test_staged_input_equals_direct(spark, synth_dir, tmp_path):
    """stage_chunked + run == direct run (identical rows), the staged read
    is partition-pruned per wave, and mismatched partitioning params are
    rejected."""
    from arabic_ocr_spark.job import plan_extraction, stage_chunked

    cfg = _cfg()
    staged = str(tmp_path / "staged")
    df = spark.read.parquet(f"{synth_dir}/transcripts.parquet")
    stage_chunked(spark, df, cfg, staged)

    out_s, out_d = str(tmp_path / "o_staged"), str(tmp_path / "o_direct")
    run_extraction(spark, staged, out_s, _cfg())
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out_d, _cfg())
    cols = ["conv_id", "turn_idx", "chunk", "extracted_text", "ok"]
    a, b = _read_out(spark, out_s).select(cols), _read_out(spark, out_d).select(cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # the wave predicate reaches the staged scan as a PARTITION filter
    staged_df = spark.read.parquet(staged).filter(F.col("text") != "")
    plan = (staged_df.filter(F.col("wave") == 1)._jdf.queryExecution()
            .executedPlan().toString())
    assert "PartitionFilters: [isnotnull(wave" in plan

    with pytest.raises(ValueError, match="staged input was chunked"):
        run_extraction(spark, staged, str(tmp_path / "o_bad"), _cfg(num_waves=7))
    with pytest.raises(ValueError, match="staged input was salted with"):
        run_extraction(spark, staged, str(tmp_path / "o_bad_s"), _cfg(salt_buckets=cfg.salt_buckets + 1))


def test_staged_input_with_derived_salt_equals_direct(spark, synth_dir, tmp_path):
    """With salt_buckets=None, staging and a direct run sketch the same
    payload rows: both pin the same S, and every row keeps its chunk and
    wave whether or not the corpus was staged first."""
    from arabic_ocr_spark.job import stage_chunked

    staged, out_d = str(tmp_path / "staged"), str(tmp_path / "o_direct")
    src = f"{synth_dir}/transcripts.parquet"
    stage_chunked(spark, spark.read.parquet(src), _cfg(salt_buckets=None), staged)
    run_extraction(spark, src, out_d, _cfg(salt_buckets=None))
    pins = []
    for d in (staged, out_d):
        with open(os.path.join(d, "_partitioning.json"), encoding="utf-8") as f:
            pins.append(json.load(f))
    assert pins[0] == pins[1]

    cols = ["conv_id", "turn_idx", "chunk", "wave"]
    a = spark.read.parquet(staged).filter(F.col("text") != "").select(cols)
    b = _read_out(spark, out_d).select(cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_staged_input_respects_payload_roles(spark, synth_dir, tmp_path):
    """A role-restricted run over a staged directory must filter exactly like
    the direct path (the pre-r3 behavior silently extracted every role), and
    a role-less staged layout must raise instead of no-op'ing."""
    from arabic_ocr_spark.job import stage_chunked

    df = spark.read.parquet(f"{synth_dir}/transcripts.parquet")
    roles = tuple(
        r["role"] for r in df.filter("text <> ''").select("role").distinct().limit(1).collect()
    )
    assert roles

    staged = str(tmp_path / "staged")
    stage_chunked(spark, df, _cfg(), staged)
    out_s, out_d = str(tmp_path / "o_staged"), str(tmp_path / "o_direct")
    run_extraction(spark, staged, out_s, _cfg(payload_roles=roles))
    run_extraction(spark, f"{synth_dir}/transcripts.parquet", out_d, _cfg(payload_roles=roles))

    cols = ["conv_id", "turn_idx", "chunk", "extracted_text", "ok"]
    a, b = _read_out(spark, out_s).select(cols), _read_out(spark, out_d).select(cols)
    n_expected = df.filter("text <> ''").filter(F.col("role").isin(*roles)).count()
    assert a.count() == b.count() == n_expected
    assert n_expected < df.filter("text <> ''").count()  # the filter actually filtered
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # staged layout WITHOUT a role column + payload_roles -> hard error
    staged_noro = str(tmp_path / "staged_noro")
    stage_chunked(spark, df.select("conv_id", "turn_idx", "text"), _cfg(), staged_noro)
    with pytest.raises(ValueError, match="no 'role' column"):
        run_extraction(spark, staged_noro, str(tmp_path / "o_nr"), _cfg(payload_roles=roles))


def test_input_table_catalog_read_equals_path_read(spark, synth_dir, tmp_path):
    """The catalog READ side of run_extraction (input_table=, job.py): a run
    over a registered table name must produce byte-identical output to the
    same run over the parquet path — the production entry point when inputs
    live in a metastore/Iceberg catalog rather than raw paths."""
    spark.read.parquet(f"{synth_dir}/transcripts.parquet").createOrReplaceTempView(
        "transcripts_catalog_t"
    )
    out_t, out_p = str(tmp_path / "out_table"), str(tmp_path / "out_path")
    # pin S: the derive_salt_buckets sample partitions differently over a
    # view scan vs a path scan, and chunk/wave are functions of S — with S
    # pinned the two runs must be byte-identical INCLUDING lineage columns
    stats_t = run_extraction(spark, None, out_t, _cfg(salt_buckets=4),
                             input_table="transcripts_catalog_t")
    stats_p = run_extraction(spark, f"{synth_dir}/transcripts.parquet", out_p,
                             _cfg(salt_buckets=4))
    assert stats_t["rows_written"] == stats_p["rows_written"] > 0
    key = ["conv_id", "turn_idx"]
    # proc_us is wall-clock per-row timing — the one legitimately
    # nondeterministic column
    a = _read_out(spark, out_t).drop("proc_us").orderBy(*key).collect()
    b = _read_out(spark, out_p).drop("proc_us").orderBy(*key).collect()
    assert a == b
    spark.catalog.dropTempView("transcripts_catalog_t")


def test_input_path_xor_table_enforced(spark, synth_dir, tmp_path):
    with pytest.raises(ValueError, match="exactly one of"):
        run_extraction(spark, f"{synth_dir}/transcripts.parquet", str(tmp_path / "o"),
                       _cfg(), input_table="also_a_table")
    with pytest.raises(ValueError, match="exactly one of"):
        run_extraction(spark, None, str(tmp_path / "o2"), _cfg())
