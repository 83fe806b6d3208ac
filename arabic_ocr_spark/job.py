"""The batch extraction job: Spark plan around the pure-NumPy kernel.

Plan shape (SURVEY.md §2.7/§4; the reference's serial file loop
re-expressed as a DataFrame program, reference segment_words.py:234-277):

    scan (Iceberg table or parquet; Catalyst pushes the column prune +
          payload-bearing-row filter into the source)
 -> salted chunk assignment: chunk = pmod(xxhash64(conv_id, salt), C)
    where salt = pmod(xxhash64(turn_idx), S).  Turns are independent, so
    salting splits a pathologically long conversation (hot conv_id) across
    chunks; S is derived from a cheap skew sketch.  chunk is DETERMINISTIC
    -> it is also the lineage/checkpoint key.
 -> placement by chunk id (`_place`): every chunk's rows colocate in one
    task, and each live chunk gets its own task.  A wave's plan is
    repartitionById(ceil(C/W), chunk div W) (its chunks are w, w+W, ...);
    a whole-input plan is repartitionById(C, chunk).  By id, not by hash:
    repartition(C, chunk) hashes the C ids with Murmur3 onto fewer than C
    partitions (C=8 fills 5, C=64 fills 37), so some tasks run several
    chunks while empty ones beside them still pay a Python task's fixed
    cost.  repartitionById needs pyspark >= 4.1.
 -> sortWithinPartitions(conv_id, turn_idx): stable turn ordering inside
    each partition (the north rule's ordering guarantee)
 -> mapInPandas(extract kernel): Arrow batches in, NumPy per payload,
    classifier weights + templates broadcast ONCE per executor; `part_id`
    is the partition that owns the row's chunk (chunk div W on a wave's
    plan, chunk on a whole-input plan)
 -> checkpointed write: chunks are grouped into WAVES; each wave commits
    through `commit_unit` (shared with the streaming micro-batch sink): its
    data directory atomically (parquet _SUCCESS; Iceberg snapshot on a
    real catalog), then its lineage rows (chunk, turn range, rows,
    failures, wall time).  A killed run resumes by reading the lineage
    table and recomputing only waves without lineage; a wave whose data
    committed but whose lineage write was lost is overwritten idempotently
    (deterministic wave -> path mapping).

At 100 TB: C is sized so a chunk's payload bytes fit one task comfortably
(e.g. 2-8 GB/chunk -> C in the tens of thousands), waves bound the blast
radius of a failure, and the only shuffle in the whole job is the single
placement by chunk — the kernel itself is map-only.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd

from .kernel.classifier import CharModel
from .kernel.pipeline import extract_page
from .kernel.segmentation import TemplateSpec
from .sources.codec import decode_payload

__all__ = ["ExtractionJobConfig", "derive_salt_buckets", "plan_extraction",
           "stage_chunked", "run_extraction", "read_lineage", "lineage_rows", "commit_unit"]

_KERNEL_SCHEMA = (
    "extracted_text string, n_lines int, n_words int, ok boolean, err string, proc_us bigint"
)
RESULT_SCHEMA = "conv_id string, turn_idx int, chunk int, part_id int, " + _KERNEL_SCHEMA

# `wave` is the commit unit id (checkpoint wave in batch, micro-batch id in
# streaming).  It comes last: on disk it is the lineage directory's
# partition column (`_lineage_dir`), which a read appends after the file
# columns
LINEAGE_SCHEMA = (
    "chunk int, rows_processed bigint, n_ok bigint, n_failed bigint, "
    "turn_min int, turn_max int, conv_min string, conv_max string, "
    "wall_us bigint, extraction_acc double, committed_at double, wave int"
)


@dataclass
class ExtractionJobConfig:
    num_chunks: int = 64
    num_waves: int = 4
    # S; >= max(1, hottest_conv_rows / target_rows_per_chunk).  None ->
    # derived from a sampled skew sketch at plan time (derive_salt_buckets)
    salt_buckets: int | None = 16
    model_path: str | None = None
    payload_roles: tuple = ()       # optional role filter pushed into the scan
    # Iceberg output (production): when set and an Iceberg catalog is on the
    # classpath, each wave commits via writeTo(table).overwritePartitions()
    # with the wave as a partition column — an atomic snapshot per wave, the
    # exact production analog of the parquet wave-directory commit used in
    # the sandbox (no Iceberg runtime jar here).  Production DDL, catalog
    # config and the sandbox->catalog artifact mapping: docs/iceberg.md.
    iceberg_table: str | None = None
    # optional golden table (conv_id, turn_idx, expected_text): when set,
    # each lineage row carries the chunk's extraction accuracy (the north
    # star's per-partition "extraction accuracy" metric)
    golden_path: str | None = None
    # opt-in pre-kernel quality gate (operators/multimodal.with_quality_flag):
    # drop payloads that decode to nothing usable (no detectable text line,
    # implausible ink ratio) BEFORE the shuffle and the OCR kernel.  The
    # gate's decode+projection cost is a small fraction of extraction, so on
    # dirty corpora this trades a cheap map-only pass for kernel + shuffle
    # work on the dropped fraction.  Default off: a clean corpus only pays
    # the extra decode.
    quality_filter: bool = False
    # dedup-before-compute: extract each DISTINCT payload once and join the
    # result back to the turns.  Real transcript corpora repeat payloads
    # (retries, quoted/forwarded documents); when the duplication factor is
    # d, this trades two cheap shuffles on a 32-char hash for a d-fold
    # reduction of kernel work.  Default off: with unique payloads it only
    # adds the shuffles.
    dedup_payloads: bool = False


def _iceberg_available(spark) -> bool:
    try:
        # NB: plain _jvm attribute access is lazy (returns a JavaPackage even
        # for missing classes); Class.forName actually probes the classpath
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


def derive_salt_buckets(df, num_chunks: int, sample_fraction: float = 0.02) -> int:
    """Cheap skew sketch -> salt bucket count S.

    Samples the conv_id column (column-pruned scan of one string column),
    estimates the hottest conversation's share of total rows, and returns
    the number of chunks that conversation must spread over so no chunk
    exceeds ~an average chunk's row count, times a safety factor of 2.  At
    10^12 rows this is a planning-time sample aggregation — the per-conv
    counts partial-aggregate map-side and only the max survives.  A uniform
    table returns 1 (salting off); the cap (4096) bounds sort-key
    cardinality."""
    from pyspark.sql import functions as F

    s = df.select("conv_id").sample(fraction=sample_fraction, seed=7)
    row = (
        s.groupBy("conv_id").count()
        .agg(F.max("count").alias("hot"), F.sum("count").alias("total"))
        .collect()[0]
    )
    if not row["total"]:
        return 1
    spread = row["hot"] * num_chunks / row["total"]  # chunks the hot conv needs
    return int(min(4096, max(1, math.ceil(spread * 2.0))))


def _extract(df, model_bc, templates_bc):
    """df through the OCR kernel (mapInPandas): consumes `text`, passes every
    other column through and appends the _KERNEL_SCHEMA columns, so the
    kernel knows nothing of the plan's key columns.  The broadcast values
    deserialize once per executor (Spark broadcast semantics) — the
    reference reloads its 1.4 MB model JSON per image and its template PNGs
    per contour; here both cross the wire exactly once per executor."""
    from pyspark.sql.types import StructType

    keep = [c for c in df.columns if c != "text"]
    added = StructType.fromDDL(_KERNEL_SCHEMA)

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model: CharModel = model_bc.value
        templates: list[TemplateSpec] = templates_bc.value
        for pdf in batches:
            results = []
            for payload in pdf["text"].tolist():
                t0 = time.perf_counter()
                res = extract_page(decode_payload(payload), model, templates)
                results.append((res.text, res.n_lines, res.n_words, res.ok, res.err,
                                int((time.perf_counter() - t0) * 1e6)))
            yield pd.concat([pdf[keep], pd.DataFrame(results, columns=added.names)], axis=1)

    schema = StructType([df.schema[c] for c in keep] + added.fields)
    return df.mapInPandas(extract_batches, schema=schema)


def _payloads(df):
    """df's payload-bearing rows: a blank `text` is the contract's
    non-payload marker and never reaches the kernel."""
    from pyspark.sql import functions as F

    return df.filter(F.col("text") != "")


def _broadcasts(spark, cfg: ExtractionJobConfig, model: CharModel | None = None,
                templates: list[TemplateSpec] | None = None):
    """(model_bc, templates_bc): the kernel's broadcast handles.  A run or a
    stream creates them once and every plan it builds reuses them, so the
    model crosses the wire once per executor, not once per wave or
    micro-batch (a per-batch broadcast would also pile up un-unpersisted
    blocks on executors over a long-running stream)."""
    sc = spark.sparkContext
    return sc.broadcast(model or CharModel.load(cfg.model_path)), sc.broadcast(templates or [])


def plan_extraction(spark, df, cfg: ExtractionJobConfig, model: CharModel | None = None,
                    templates: list[TemplateSpec] | None = None, wave: int | None = None,
                    model_bc=None, templates_bc=None, prechunked: bool = False):
    """Builds the extraction DataFrame (no side effects; one shuffle).

    The one owner of the input contract: df is a raw transcripts frame, or
    with prechunked a `stage_chunked` layout (chunk and wave already
    materialized).  Either way this applies, once, the payload filter, the
    role filter (payload_roles) and the wave restriction.

    wave: restrict the plan to one checkpoint wave, `wave == w` on the
    PRE-kernel salted chunk's wave column.  On a staged input that is the
    partition column, so even the scan reads only 1/num_waves; on a raw
    input it is computed, and the predicate still prunes below the
    repartition — a wave shuffles and extracts only its own rows.
    (Filtering the kernel OUTPUT instead would re-run the opaque
    mapInPandas kernel over everything per wave: Catalyst cannot push a
    predicate through it.)

    model_bc / templates_bc: `_broadcasts` handles, so callers that build
    many plans per session (the wave loop, streaming foreachBatch)
    broadcast the model exactly once instead of once per plan.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if model_bc is None or templates_bc is None:
        model_bc, templates_bc = _broadcasts(spark, cfg, model, templates)
    rows = _payloads(df)
    if cfg.payload_roles:
        # stage_chunked carries `role` through the staged layout precisely
        # so a role-restricted run over it is not a silent no-op; an input
        # without the column raises rather than extracting every role
        if "role" not in rows.columns:
            raise ValueError(
                "payload_roles is set but the input has no 'role' column; "
                "a staged input must be re-staged from a role-bearing source"
            )
        rows = rows.filter(F.col("role").isin(*cfg.payload_roles))
    if not prechunked:
        rows = _chunked(rows, cfg)
    if wave is not None:
        rows = rows.filter(F.col("wave") == wave)
    salted = rows.select("conv_id", "turn_idx", "text", "chunk")
    gate = None
    if cfg.quality_filter:
        # pre-kernel gate (operators/multimodal.with_quality_flag): drops
        # unusable payloads BELOW the kernel and below the repartition
        from .operators.multimodal import with_quality_flag

        def gate(d):
            return with_quality_flag(d).filter(F.col("quality_ok")).drop("quality_ok")

    if cfg.dedup_payloads:
        # extract once per distinct payload, join results back to the turns.
        # The distinct side repartitions on the payload hash (its own even
        # key space); the join back is a hash join on the same 32-char key.
        hashed = salted.withColumn("_ph", F.md5("text"))
        distinct = hashed.select("_ph", "text").dropDuplicates(["_ph"])
        if gate is not None:
            # gate the DISTINCT payloads, not the occurrences: the decode
            # runs once per distinct payload (duplication factor d would
            # otherwise re-pay it d times), and the inner join back below
            # drops every turn of a gated-out payload — same row set as the
            # direct path's gate
            distinct = gate(distinct)
        # the distinct side's `chunk` is the payload's own bucket: it only
        # spreads the kernel tasks (placed like a chunk, so a wave runs
        # ceil(C/W) of them), and the turns keep their salted chunk
        distinct = _place(distinct.withColumn(
            "chunk", F.pmod(F.xxhash64("_ph"), F.lit(cfg.num_chunks)).cast("int")
        ), cfg, wave)
        per_payload = _extract(distinct, model_bc, templates_bc).drop("chunk")
        # restore the canonical partitioning/order contract after the join
        result = (
            _place(hashed.drop("text").join(per_payload, "_ph"), cfg, wave)
            .sortWithinPartitions("conv_id", "turn_idx")
        )
    else:
        if gate is not None:
            salted = gate(salted)
        result = _extract(
            _place(salted, cfg, wave).sortWithinPartitions("conv_id", "turn_idx"),
            model_bc, templates_bc,
        )
    # part_id is the partition that OWNS the row's chunk: the kernel task on
    # the direct branch, the post-join repartition on the distinct-payload one
    # (the kernel task's id there would describe the payload shuffle)
    return (result.withColumn("part_id", F.spark_partition_id())
            .select(*StructType.fromDDL(RESULT_SCHEMA).names))


def _place(df, cfg: ExtractionJobConfig, wave: int | None):
    """df repartitioned by the `chunk` id itself (repartitionById; the
    module docstring says why not by its hash).  A wave-restricted plan
    (`wave` set) holds one wave's chunks w, w+W, w+2W, ...; `chunk div W`
    numbers them 0, 1, 2, ..., so the wave runs ceil(C/W) tasks, one per
    live chunk and none empty.  A whole-input plan runs C tasks, one per
    chunk."""
    from pyspark.sql import functions as F

    if wave is not None:
        return df.repartitionById(-(-cfg.num_chunks // cfg.num_waves),
                                  F.expr(f"chunk div {cfg.num_waves}").cast("int"))
    return df.repartitionById(cfg.num_chunks, "chunk")


def _chunked(df, cfg: ExtractionJobConfig):
    """df's conv_id, turn_idx and text (and role, when df has it) plus the
    salted `chunk`, pmod(xxhash64(conv_id, pmod(xxhash64(turn_idx), S)), C),
    and its checkpoint `wave`, pmod(chunk, W).  When S is unset it is
    derived from the skew sketch of df's payload rows, as `run_extraction`
    derives it, and pinned on cfg: every wave (and a later run over the
    same output) must salt identically."""
    from pyspark.sql import functions as F

    keep = ["conv_id", "turn_idx", "text"] + (["role"] if "role" in df.columns else [])
    if cfg.salt_buckets is None:
        cfg.salt_buckets = derive_salt_buckets(_payloads(df), cfg.num_chunks)
    salt = F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(cfg.salt_buckets))
    return (
        df.select(*keep)
        .withColumn("chunk", F.pmod(F.xxhash64(F.col("conv_id"), salt), F.lit(cfg.num_chunks)).cast("int"))
        .withColumn("wave", F.pmod(F.col("chunk"), F.lit(cfg.num_waves)).cast("int"))
    )


def stage_chunked(spark, df, cfg: ExtractionJobConfig, staged_dir: str) -> str:
    """ONE pass over the raw input writing it re-laid-out as
    `staged_dir/wave=<w>/` partitions with the salted chunk column
    materialized.  Why: the wave predicate is a hash of (conv_id, turn_idx)
    and cannot push into a parquet/Iceberg scan, so every checkpointed wave
    of `run_extraction` re-scans the FULL input to find its rows — cheap
    relative to the OCR kernel at small wave counts, but W full scans at
    W=64 on 100 TB is real money.  Staging costs one scan + one write, and
    afterwards each wave's read is partition-pruned to exactly its 1/W of
    the bytes (run_extraction detects the wave=... layout automatically).
    The production analog is an Iceberg table partitioned by the wave
    column; the staged copy is also what you keep when the same corpus
    will be extracted more than once."""
    # `role` rides along (when the source has it) so a later role-restricted
    # run over the staged layout can still filter; S, when derived, comes
    # from a sketch of the payload rows, so staging does not move a row's
    # chunk or wave.  The overwrite also deletes a previous staging's pin,
    # so the pin written below is always this staging's own
    _chunked(df, cfg).write.mode("overwrite").partitionBy("wave").parquet(staged_dir)
    _pin_partitioning(cfg, staged_dir, "staged input")
    return staged_dir


_PIN_FILE = "_partitioning.json"


def _is_staged(input_path: str | None) -> bool:
    return bool(input_path) and os.path.exists(os.path.join(input_path, _PIN_FILE))


def _pin_partitioning(cfg: ExtractionJobConfig, dirpath: str, owner: str,
                      source=None) -> None:
    """The ONE reader and writer of a directory's `_partitioning.json`.
    chunk (and therefore wave membership) is a function of (salt_buckets,
    num_chunks), so data chunked under a pin must be read, resumed and
    extended under the same one — a re-derived sample sketch could land on
    a different S and silently duplicate/drop rows.

    An existing pin is validated against cfg (a mismatch raises, naming
    `owner`) and its S adopted into cfg; without a pin, cfg's parameters
    are written — S derived from `source`'s skew sketch first when unset."""
    path = os.path.join(dirpath, _PIN_FILE)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            pinned = json.load(f)
        if pinned["num_chunks"] != cfg.num_chunks or pinned["num_waves"] != cfg.num_waves:
            raise ValueError(
                f"{owner} was chunked with num_chunks={pinned['num_chunks']}, "
                f"num_waves={pinned['num_waves']}; a run or resume must use the same values"
            )
        if cfg.salt_buckets is not None and cfg.salt_buckets != pinned["salt_buckets"]:
            raise ValueError(
                f"{owner} was salted with S={pinned['salt_buckets']}, "
                f"got salt_buckets={cfg.salt_buckets}"
            )
        cfg.salt_buckets = pinned["salt_buckets"]
        return
    if cfg.salt_buckets is None:
        cfg.salt_buckets = derive_salt_buckets(source, cfg.num_chunks)
    os.makedirs(dirpath, exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"num_chunks": cfg.num_chunks, "num_waves": cfg.num_waves,
                   "salt_buckets": cfg.salt_buckets}, f)


def lineage_rows(written, golden=None):
    """Per-chunk lineage aggregate: LINEAGE_SCHEMA's file columns (all but
    `wave`, which the unit's lineage directory carries) — the ONE
    definition, applied by `commit_unit` to batch waves and streaming
    micro-batches alike, so a consumer written against either lineage table
    reads both.  `golden` is an optional (conv_id, turn_idx, expected_text)
    frame for the per-chunk extraction-accuracy metric (null when no golden
    is configured)."""
    from pyspark.sql import functions as F

    if golden is not None:
        written = written.join(
            golden.select("conv_id", "turn_idx", "expected_text"),
            ["conv_id", "turn_idx"], "left",
        ).withColumn(
            "is_exact", (F.col("extracted_text") == F.col("expected_text")).cast("double")
        )
    else:
        written = written.withColumn("is_exact", F.lit(None).cast("double"))
    return (
        written.groupBy("chunk")
        .agg(
            F.count("*").alias("rows_processed"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum((~F.col("ok")).cast("long")).alias("n_failed"),
            F.min("turn_idx").alias("turn_min"),
            F.max("turn_idx").alias("turn_max"),
            F.min("conv_id").alias("conv_min"),
            F.max("conv_id").alias("conv_max"),
            F.sum("proc_us").alias("wall_us"),
            F.avg("is_exact").alias("extraction_acc"),
        )
        .withColumn("committed_at", F.lit(time.time()))
        .select(
            "chunk", "rows_processed", "n_ok", "n_failed",
            "turn_min", "turn_max", "conv_min", "conv_max", "wall_us",
            "extraction_acc", "committed_at",
        )
    )


def _lineage_dir(output_dir: str, unit_id) -> str:
    """lineage/wave=<id>, the one name of a commit unit's lineage directory
    — a batch wave's and a streaming micro-batch's alike.  The unit id is
    encoded once, in this partition directory (the files carry no `wave`
    column), so a read of the `lineage/` root gives exactly LINEAGE_SCHEMA
    on either output."""
    return os.path.join(output_dir, "lineage", f"wave={unit_id}")


def _committed_units(output_dir: str) -> dict[str, int]:
    """lineage/wave=<id> directory -> id, for every commit unit whose
    lineage COMMITTED (the `_SUCCESS` marker of the lineage directory, not
    its row contents): a unit that legitimately produced zero rows — e.g.
    every payload dropped by the quality gate — still counts as done, so a
    resumed run skips it instead of re-scanning and re-gating it forever."""
    done: dict[str, int] = {}
    for p in glob.glob(_lineage_dir(output_dir, "*")):
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            try:
                done[p] = int(os.path.basename(p).split("=", 1)[1])
            except ValueError:
                pass
    return done


def read_lineage(spark, output_dir: str):
    """All committed lineage rows — batch waves and streaming micro-batches
    alike — or None when no unit has committed."""
    done = _committed_units(output_dir)
    if not done:
        return None
    # basePath: each unit directory's `wave=<id>` name fills the column
    return (spark.read.schema(LINEAGE_SCHEMA)
            .option("basePath", os.path.join(output_dir, "lineage"))
            .parquet(*sorted(done)))


def commit_unit(spark, result, output_dir: str, unit: str, unit_id: int,
                golden=None, iceberg_table: str | None = None) -> None:
    """Commit one unit of work — a batch wave or a streaming micro-batch.
    The ONE commit sequence of both jobs:

    1. write `result` to `data/<unit>=<unit_id>` (mode overwrite: a unit
       whose data committed but whose lineage was lost is replaced
       idempotently — the unit -> path mapping is deterministic);
    2. read the committed files back with RESULT_SCHEMA (no schema
       inference), so everything below sees exactly the rows that
       committed and the kernel runs once per unit;
    3. with `iceberg_table`, one atomic `overwritePartitions` snapshot of
       that read-back, partitioned by `unit` (retry-idempotent; the parquet
       directory stays the sandbox-testable system of record, so with a
       catalog configured this dual-writes during migration);
    4. LAST, the unit's `lineage_rows` to `lineage/wave=<unit_id>` — its
       `_SUCCESS` marker is the resume ledger, and lineage can never claim
       rows that did not commit.

    Row counts are the lineage's to answer (read_lineage), not the
    commit's: counting here would cost every unit extra Spark jobs."""
    from pyspark.sql import functions as F

    data_dir = os.path.join(output_dir, "data", f"{unit}={unit_id}")
    result.write.mode("overwrite").parquet(data_dir)
    written = spark.read.schema(RESULT_SCHEMA).parquet(data_dir)
    if iceberg_table:
        written.withColumn(unit, F.lit(unit_id)).writeTo(iceberg_table).overwritePartitions()
    lineage_rows(written, golden).coalesce(1).write.mode("overwrite").parquet(
        _lineage_dir(output_dir, unit_id))


def _read_parquet(spark, path: str):
    """spark.read.parquet(path), inferring an INT64 TIMESTAMP(NANOS) column
    (what pandas' to_parquet writes for `ts`) as its raw long instead of
    failing: extraction never reads `ts`, so only schema inference meets it.
    The session's setting is restored before returning."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        return spark.read.parquet(path)
    finally:
        spark.conf.set(key, prev)


def run_extraction(
    spark,
    input_path: str | None,
    output_dir: str,
    cfg: ExtractionJobConfig | None = None,
    model: CharModel | None = None,
    templates: list[TemplateSpec] | None = None,
    input_table: str | None = None,
) -> dict:
    """Execute the job in resumable waves.  Returns run stats.

    input_path: parquet path; or pass input_table to read a catalog table
    (the production Iceberg source — any Spark catalog name resolves, and
    Iceberg's scan supports the same pruning/pushdown the plan tests pin).
    """
    cfg = cfg or ExtractionJobConfig()
    if (input_path is None) == (input_table is None):
        raise ValueError("exactly one of input_path / input_table is required")
    staged = _is_staged(input_path)
    if staged:
        # stage_chunked layout: adopt its pinned partitioning (the chunk
        # column in the data was computed with it) and read the wave-
        # partitioned copy so per-wave scans prune to 1/num_waves
        _pin_partitioning(cfg, input_path, "staged input")
    df = spark.table(input_table) if input_table else _read_parquet(spark, input_path)

    # pin the partitioning parameters for the OUTPUT's lifetime: a resumed
    # run must salt exactly like the committed waves (a derived S sketches
    # the payload rows)
    _pin_partitioning(cfg, output_dir, "output dir", source=_payloads(df))

    # broadcast once for the whole run; every wave's plan reuses the handles
    model_bc, templates_bc = _broadcasts(spark, cfg, model, templates)
    golden = spark.read.parquet(cfg.golden_path) if cfg.golden_path else None
    iceberg_table = cfg.iceberg_table if cfg.iceberg_table and _iceberg_available(spark) else None

    # resume ledger = the lineage directories' commit markers, NOT the
    # lineage row values: an all-dropped wave commits an empty-but-valid
    # lineage file and must still be skipped on resume
    done_waves = set(_committed_units(output_dir).values())

    ran: list[int] = []
    t_start = time.time()
    for wave in range(cfg.num_waves):
        if wave in done_waves:
            continue
        wave_df = plan_extraction(spark, df, cfg, wave=wave, model_bc=model_bc,
                                  templates_bc=templates_bc, prechunked=staged)
        commit_unit(spark, wave_df, output_dir, "wave", wave, golden, iceberg_table)
        ran.append(wave)

    # one read of the tiny lineage of the waves this run committed
    rows_written = 0
    if ran:
        lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(
            *(_lineage_dir(output_dir, w) for w in ran))
        rows_written = sum(r.rows_processed for r in lineage.select("rows_processed").collect())
    return {
        "waves_total": cfg.num_waves,
        "waves_run": len(ran),
        "waves_skipped": len(done_waves),
        "rows_written": rows_written,
        "wall_s": time.time() - t_start,
    }
