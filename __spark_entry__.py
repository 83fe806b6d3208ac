"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship extraction over a deterministic transcripts
  table synthesized next to sf0.001 (pool-rendered glyph payloads).
- ``queries()``: one entry per implemented operator (SURVEY.md §2 + the
  training-data pipeline operators).  Rows-only (no oracle) is exactly the
  irreducible five — the OCR-kernel trio (not SQL-expressible; gated by
  per-turn equality vs the serial kernel) and the IVF pair (trained
  quantizer + the recall row built on it); every other query, including
  both LSH candidate stages, the full LSH top-k, and the LSH recall
  number itself, has a DuckDB value-parity oracle.
- ``oracle_sql()``: ANSI-SQL twins, value-identical by construction
  (portable primitives only: md5, regexp on explicit classes, list
  comprehensions, round-to-fixed-decimals).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from arabic_ocr_spark.job import ExtractionJobConfig, lineage_rows, plan_extraction
from arabic_ocr_spark.operators import dedup, multimodal, relational, similarity
from arabic_ocr_spark.operators.dedup import (
    dedup_groups,
    exact_dup_groups,
    jaccard_verified_pairs,
    lsh_candidate_pairs,
    simhash,
)
from arabic_ocr_spark.operators.multimodal import payload_meta, payload_profile
from arabic_ocr_spark.operators.relational import (
    asof_last_event,
    events_hourly,
    events_within_interval,
    orders_by_nation,
    pricing_summary,
)
from arabic_ocr_spark.operators.similarity import (
    ann_recall,
    cosine_topk,
    embedding_dup_pairs,
    embedding_neardup_candidates,
    embedding_neardup_hi,
    ivf_ann_topk,
    lsh_ann_candidates,
    lsh_ann_topk,
    neardup_band_params,
)
from arabic_ocr_spark.operators.textstats import (
    BPE_SPLIT_PATTERN,
    FINGERPRINT_K,
    LANG_MARKERS,
    bpe_token_stats,
    curated_docs,
    fingerprints,
    lang_id,
    quality_scores,
    token_stats,
)
from arabic_ocr_spark.sources.synth import SynthConfig, synthesize

_SYNTH_VERSION = "v3"
_SYNTH_SIZES = {
    "sf0.001": SynthConfig(n_convs=40, pool_size=100, mean_turns=6),
    "sf0.01": SynthConfig(n_convs=120, pool_size=150, mean_turns=8),
    # bench scale: big enough that per-job fixed overhead (~5s: python
    # worker spin-up, broadcast, scheduling) amortizes into the noise
    "sf0.1": SynthConfig(n_convs=1200, pool_size=300, mean_turns=12),
    # data-scale point (~10x sf0.1 turns): used by ad-hoc runs with
    # SPARK_GRAFT_SF_DIR pointed at an sf1 dir; the dedup/ANN ladders get
    # their 10x evidence from tools/bench_datascale.py, which derives a 10x
    # corpus from the sf0.1 parquet instead (no sf1 testdata exists)
    "sf1": SynthConfig(n_convs=12000, pool_size=600, mean_turns=12),
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def synth_dir_for(sf_dir: str) -> str:
    """Deterministic synthesized transcripts cache for a testdata sf dir."""
    base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "arabic_ocr_synth", f"{base}_{_SYNTH_VERSION}")
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        cfg = _SYNTH_SIZES.get(base, _SYNTH_SIZES["sf0.001"])
        synthesize(out, cfg)
        with open(marker, "w") as f:
            f.write("ok")
    return out


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(synth_dir_for(sf_dir), "transcripts.parquet"))


_STAGES: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _stage(spark: SparkSession, sf_dir: str, name: str,
           build: Callable[[], DataFrame]) -> DataFrame:
    """The driver's stage memo: `build()` persisted once per
    (session, sf_dir, name).  Several driver queries consume the same
    expensive prefix (the kernel output, the near-dup ladder's stages, the
    ANN top-k sets, the fused payload sweep); the first consumer pays it,
    later consumers read the materialized partitions.  Values are identical
    either way — every consumer is oracle- or equality-gated on its own.

    The memo holds ONE live (session, sf_dir): entries of other sessions
    (their persisted blocks died with the stopped session, but the Python
    references would pin them forever) and of other sf_dirs of the live
    session (an unbounded per-sf memo would pin every scale's persisted
    stages for the whole application lifetime) are evicted and unpersisted.

    Known trade-off: a single session interleaving TWO scales (no current
    flow does — driver gate, bench, and tools each pin one sf_dir per
    session) would thrash-recompute on every alternation; if a multi-scale
    flow ever appears, widen this to keep-last-K sf_dirs instead of
    exactly one.  Correctness is unaffected either way — evicted entries
    are recomputed, never reused stale."""
    key = (spark.sparkContext.applicationId, sf_dir)
    for stale in [k for k in _STAGES if k != key]:
        for df in _STAGES.pop(stale).values():
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped; nothing left to unpersist
    stages = _STAGES.setdefault(key, {})
    if name not in stages:
        stages[name] = build().persist()
    return stages[name]


def _extraction_plan(spark: SparkSession, sf_dir: str, cached: bool = True) -> DataFrame:
    """The extraction result: extract_turns / extract_eval /
    extract_lineage share it through _stage.  cached=False returns the raw
    un-persisted plan (plan-shape tests)."""
    def build():
        # 128 chunks: ~4 task rounds at 32 cores so stragglers average out;
        # no model_path: the packaged default model
        return plan_extraction(spark, _transcripts(spark, sf_dir), ExtractionJobConfig(num_chunks=128))

    return _stage(spark, sf_dir, "extraction", build) if cached else build()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-turn main-content extraction at sf0.001."""
    return _extraction_plan(spark, "/root/testdata/sf0.001").select(
        "conv_id", "turn_idx", "extracted_text", "n_lines", "n_words", "ok"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_extract_turns(spark, sf_dir):
    return _extraction_plan(spark, sf_dir).select(
        "conv_id", "turn_idx", "extracted_text", "n_lines", "n_words", "ok", "err"
    )


def _q_extract_eval(spark, sf_dir):
    """Reference edit.py semantics: per-turn exact-match rate + mean
    levenshtein accuracy on whitespace-stripped strings."""
    d = synth_dir_for(sf_dir)
    result = _extraction_plan(spark, sf_dir)
    golden = spark.read.parquet(os.path.join(d, "transcripts_golden.parquet"))
    j = result.join(golden, ["conv_id", "turn_idx"])
    strip = lambda c: F.regexp_replace(c, r"\s", "")  # noqa: E731

    def exact_rate(ref):
        return F.round(F.avg((F.col("extracted_text") == F.col(ref)).cast("double")), 6)

    def lev_accuracy(ref):
        dist = F.levenshtein(strip("extracted_text"), strip(ref))
        return F.round(F.avg(F.greatest(
            F.lit(0.0), 1 - dist / F.greatest(F.length(strip(ref)), F.lit(1)))), 6)

    return j.agg(
        F.count("*").cast("long").alias("n_turns"),
        # the gate: per-turn equality vs the serial oracle
        exact_rate("expected_text").alias("exact_match_rate"),
        lev_accuracy("expected_text").alias("lev_accuracy"),
        # recognition quality vs the composed ground truth (bounded by the
        # reference's own deskew estimator on the rotated pool subset)
        exact_rate("true_text").alias("true_exact_rate"),
        lev_accuracy("true_text").alias("true_lev_accuracy"),
    )


def _q_extract_lineage(spark, sf_dir):
    """Per-chunk lineage aggregate (partition id, turn range, rows, failures):
    a projection of the job's own lineage_rows."""
    return lineage_rows(_extraction_plan(spark, sf_dir), wave=0).select(
        "chunk", "rows_processed", "n_ok",
        F.col("turn_min").cast("long").alias("turn_min"),
        F.col("turn_max").cast("long").alias("turn_max"),
    )


def _dedup_chain(spark: SparkSession, sf_dir: str, stage: str) -> DataFrame:
    """The near-dup ladder is a CHAIN — LSH candidates -> Jaccard-verified
    pairs -> CC groups — and four driver queries consume successive stages
    of it, sharing the expensive prefix through _stage.  That is also how a
    production pipeline consumes the ladder: compute once, read many —
    re-deriving the LSH subtree per downstream consumer is the
    anti-pattern the memo removes.  Values are identical either way (the
    oracle gate checks every stage independently)."""
    docs = _t(spark, sf_dir, "documents")
    build = {
        "cands": lambda: lsh_candidate_pairs(docs),
        "pairs": lambda: jaccard_verified_pairs(
            docs, candidates=_dedup_chain(spark, sf_dir, "cands")),
        "groups": lambda: dedup_groups(docs, pairs=_dedup_chain(spark, sf_dir, "pairs")),
    }[stage]
    return _stage(spark, sf_dir, f"dedup.{stage}", build)


def _ann_chain(spark: SparkSession, sf_dir: str, stage: str) -> DataFrame:
    """The ANN suite shares its materialized stages the way the dedup
    ladder does: the exact cosine baseline ("exact"), the IVF top-k ("ivf")
    and the LSH top-k ("lsh") each persist once through _stage; the top-k
    driver queries and the ann_recall measurement consume the SAME results
    instead of paying the ANN queries twice.  Values are identical either
    way — recall is a join over the same outputs."""
    op = {"exact": cosine_topk, "ivf": ivf_ann_topk, "lsh": lsh_ann_topk}[stage]
    return _stage(spark, sf_dir, f"ann.{stage}", lambda: op(_t(spark, sf_dir, "embeddings")))


# planted-fixture shape shared by _augmented_embeddings AND its oracle
# twins (the aug CTE's id-range filters and the collision-model row count
# must replay these exact values)
_N_PLANTED = 40
_N_DECOYS = 10


def _augmented_embeddings(spark: SparkSession, sf_dir: str,
                          n_planted: int = _N_PLANTED, n_decoys: int = _N_DECOYS) -> DataFrame:
    """The embeddings table plus DETERMINISTICALLY planted near-duplicates,
    the fixture for the high-threshold (0.95) near-dup operator: the raw
    synthetic embeddings max out at pairwise cosine ~0.48, so without
    planting the 0.95 regime would be vacuously empty.

    Planted rows are pure arithmetic on the base vectors (coordinate i of
    vec v scaled by 1 + a*((i%7)-3)/30), so the DuckDB oracle reconstructs
    the identical doubles from the identical parquet floats:
    - vec_id < n_planted -> id+1_000_000 with a = 0.5*(1 + vec_id%4):
      cosines ~0.991..0.9997, all ABOVE the 0.95 threshold (true dups);
    - vec_id in [n_planted, n_planted+n_decoys) -> id+2_000_000 with a = 6:
      cosines ~0.92, BELOW threshold — decoys that the LSH bands mostly
      surface as candidates and the exact verify must then reject."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )

    def planted(lo, hi, id_off, amp_col):
        return emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).select(
            (F.col("vec_id") + id_off).alias("vec_id"),
            F.transform(
                "embedding",
                # two-param HOF lambda ON PURPOSE: i is the 0-based element
                # index, replayed 1-based by the oracle's generate_series
                # comprehension (CLAUDE.md oracle-parity invariant)
                lambda x, i: x * (1 + amp_col * ((i % 7) - 3) / F.lit(30.0)),
            ).alias("embedding"),
        )

    dup_amp = F.lit(0.5) * (1 + F.col("vec_id") % 4)
    return (
        emb.unionByName(planted(0, n_planted, 1_000_000, dup_amp))
        .unionByName(planted(n_planted, n_planted + n_decoys, 2_000_000, F.lit(6.0)))
    )


def _profile_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused payload sweep (operators/multimodal.payload_profile) is
    the shared prefix of the heavy per-image driver queries —
    payload_features, payload_ink, payload_thumbnail and payload_profile
    are column projections of its ONE decode pass, shared through _stage.
    That is the production shape the operator exists for: payload bytes
    dominate the scan cost at 100 TB, so a pipeline wanting features + ink
    stats + thumbnails decodes each payload once, not once per consumer.
    Values are identical either way — the library operators remain
    independently callable and every projection is oracle-gated.
    (payload_meta stays standalone: its JVM-only envelope decode never
    touches Python, so routing it through the profile would ADD cost.)"""
    return _stage(spark, sf_dir, "profile",
                  lambda: payload_profile(_transcripts(spark, sf_dir)))


def _q_payload_meta(spark, sf_dir):
    """Multimodal envelope headers (height, width, valid) decoded entirely
    JVM-side (operators/multimodal.py) — the cheap validity sweep.  Output
    numerics cast to long so the schema matches the DuckDB oracle's BIGINTs
    (driver compare is schema-strict).

    NB: the payload oracles read the synth transcripts by path; at a
    NON-default sf_dir pass it to oracle_sql(sf_dir=...) explicitly (or set
    SPARK_GRAFT_ORACLE_SF_DIR) — query builders no longer mutate process
    globals, so oracle/query alignment is order-independent."""
    return payload_meta(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx",
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        F.col("valid").cast("long").alias("valid"),
    )


def _q_payload_features(spark, sf_dir):
    """Per-image ink statistics (quality filter for image-bearing turns).
    Ints/booleans cast to BIGINT for schema parity with the DuckDB oracle,
    which replays the full computation from the raw bytes (see the
    payload_ink oracle for the bitmap trick; the two rounded ratios use
    exact integer half-up on both sides — multimodal.round_ratio — because
    pixel/row-count denominators CAN produce exact decimal halves, e.g.
    h*w = 128, where Python round and any SQL round() diverge).

    Projects the session's materialized payload profile (_profile_chain) —
    same columns/values as a standalone payload_features() call."""
    m = _profile_chain(spark, sf_dir)
    return m.select(
        "conv_id", "turn_idx",
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        F.col("valid").cast("long").alias("valid"),
        "ink_ratio",
        F.col("n_lines").cast("long").alias("n_lines"),
        "mean_line_height",
        F.col("quality_ok").cast("long").alias("quality_ok"),
    )


def _q_payload_thumbnail(spark, sf_dir):
    """Binary->binary payload decimation (multimodal.payload_thumbnail) —
    oracle-checked: DuckDB re-builds the decimated envelope (header +
    stride-sampled pixels, re-encoded base64) byte for byte from the raw
    blob, so even the opaque binary output column is hash-compared.

    Projects the session's materialized payload profile (_profile_chain) —
    the height/width here are the THUMB dims, exactly as the standalone
    payload_thumbnail() aliases them."""
    m = _profile_chain(spark, sf_dir)
    return m.select(
        "conv_id", "turn_idx", "thumb",
        F.col("thumb_height").cast("long").alias("height"),
        F.col("thumb_width").cast("long").alias("width"),
        F.col("valid").cast("long").alias("valid"),
    )


def _q_payload_ink(spark, sf_dir):
    """Integer pixel-level ink statistics (operators/multimodal.
    payload_ink_stats) — DuckDB-oracle hard-checked down to the pixel.

    Projects the session's materialized payload profile (_profile_chain) —
    same columns/values as a standalone payload_ink_stats() call."""
    return _profile_chain(spark, sf_dir).select(
        "conv_id", "turn_idx", "n_ink", "n_pixels", "n_lines", "nz_rows"
    )


def _q_payload_profile(spark, sf_dir):
    """The FUSED payload sweep (operators/multimodal.payload_profile): one
    decode pass emitting header dims + exact integer ink stats + rounded
    ratio/quality view + the decimated thumbnail.  Every column is
    oracle-checked — the DuckDB twin composes the payload_ink bitmap replay
    with the thumbnail envelope re-build in a single statement.

    Reads the session's materialized profile (_profile_chain), shared with
    the three single-product projections."""
    m = _profile_chain(spark, sf_dir)
    return m.select(
        "conv_id", "turn_idx",
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        F.col("valid").cast("long").alias("valid"),
        "n_ink", "n_pixels", "n_lines", "nz_rows",
        "ink_ratio", "mean_line_height",
        F.col("quality_ok").cast("long").alias("quality_ok"),
        "thumb",
        F.col("thumb_height").cast("long").alias("thumb_height"),
        F.col("thumb_width").cast("long").alias("thumb_width"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # extraction engine (rows-only: the OCR kernel is not SQL-expressible)
    q["extract_turns"] = _q_extract_turns
    q["extract_eval"] = _q_extract_eval
    q["extract_lineage"] = _q_extract_lineage
    q["payload_meta"] = _q_payload_meta
    q["payload_features"] = _q_payload_features
    q["payload_thumbnail"] = _q_payload_thumbnail
    q["payload_ink"] = _q_payload_ink
    q["payload_profile"] = _q_payload_profile
    q["ann_lsh_topk"] = lambda s, d: _ann_chain(s, d, "lsh").withColumn(
        "rank", F.col("rank").cast("long"))
    q["ann_ivf_topk"] = lambda s, d: _ann_chain(s, d, "ivf").withColumn(
        "rank", F.col("rank").cast("long"))
    # the DETERMINISTIC candidate stage of ann_lsh_topk, oracle-gated: the
    # DuckDB twin replays the seeded Gaussian planes as SQL literals and the
    # same sign-of-projection bucketing (see _sql_band_sig)
    q["ann_lsh_candidates"] = lambda s, d: lsh_ann_candidates(_t(s, d, "embeddings"))
    q["ann_recall"] = lambda s, d: ann_recall(
        _t(s, d, "embeddings"),
        exact=_ann_chain(s, d, "exact"),
        ivf=_ann_chain(s, d, "ivf"),
        lsh=_ann_chain(s, d, "lsh"),
    )

    def _q_ann_lsh_recall(s, d):
        """LSH recall@10 vs the exact baseline as a VALUE-GATED query: both
        top-k sets are deterministic pure functions of (seed, corpus) — see
        the ann_lsh_topk twin — so the recall itself is a replayable
        constant the DuckDB oracle recomputes from scratch.  Only the IVF
        side of ann_recall stays rows-only (trained quantizer)."""
        exact = _ann_chain(s, d, "exact").select("query_id", "neighbor_id")
        lsh = _ann_chain(s, d, "lsh").select(
            "query_id", "neighbor_id").withColumn("hit", F.lit(1))
        j = exact.join(lsh, ["query_id", "neighbor_id"], "left")
        return j.agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
            F.round(F.sum(F.coalesce("hit", F.lit(0))) / F.count("*"), 6).alias("lsh_recall"),
        )

    q["ann_lsh_recall"] = _q_ann_lsh_recall

    # oracle-backed operators
    q["dedup_exact"] = lambda s, d: exact_dup_groups(_t(s, d, "documents"))
    q["minhash_lsh_pairs"] = lambda s, d: _dedup_chain(s, d, "cands")
    q["jaccard_pairs"] = lambda s, d: _dedup_chain(s, d, "pairs")
    q["simhash"] = lambda s, d: simhash(_t(s, d, "documents"))
    q["dedup_groups"] = lambda s, d: _dedup_chain(s, d, "groups")
    q["token_stats"] = lambda s, d: token_stats(_t(s, d, "documents")).withColumn(
        "n_tokens", F.col("n_tokens").cast("long"))
    q["bpe_tokens"] = lambda s, d: bpe_token_stats(_t(s, d, "documents"))
    q["quality"] = lambda s, d: quality_scores(_t(s, d, "documents")).withColumn(
        "n_chars_m", F.col("n_chars_m").cast("long")).withColumn(
        "quality_ok", F.col("quality_ok").cast("long"))
    q["lang_id"] = lambda s, d: lang_id(_t(s, d, "documents"))
    q["fingerprint"] = lambda s, d: fingerprints(_t(s, d, "documents"))
    q["cosine_topk"] = lambda s, d: _ann_chain(s, d, "exact").withColumn(
        "rank", F.col("rank").cast("long"))
    q["embedding_dup_pairs"] = lambda s, d: embedding_dup_pairs(_t(s, d, "embeddings"))
    q["embedding_neardup_hi"] = lambda s, d: embedding_neardup_hi(_augmented_embeddings(s, d))

    def _q_neardup_cands(s, d):
        """The deterministic banded-LSH candidate stage of the near-dup
        operator, at the same collision-model (b, r) the hi query derives —
        oracle-gated like ann_lsh_candidates (seeded planes replayed as SQL
        literals over the oracle's own aug reconstruction)."""
        aug = _augmented_embeddings(s, d)
        n = aug.count()
        nb, rpb = neardup_band_params(n)
        return embedding_neardup_candidates(aug, nb, rpb, n_rows=n)

    q["embedding_neardup_cands"] = _q_neardup_cands
    q["pricing_summary"] = lambda s, d: pricing_summary(_t(s, d, "lineitem"))
    q["orders_by_nation"] = lambda s, d: orders_by_nation(
        _t(s, d, "orders"), _t(s, d, "customer"), _t(s, d, "nation"))
    q["events_hourly"] = lambda s, d: events_hourly(_t(s, d, "events")).withColumn(
        "hour_s", F.date_format("hour", "yyyy-MM-dd HH:mm:ss")).drop("hour")
    q["asof_join"] = lambda s, d: asof_last_event(_t(s, d, "events"))
    q["range_join"] = lambda s, d: events_within_interval(_t(s, d, "events"))
    q["curated_docs"] = lambda s, d: curated_docs(
        _t(s, d, "documents"), _dedup_chain(s, d, "groups"))
    return q


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — generated to mirror the Spark expressions exactly
# ---------------------------------------------------------------------------

def _sql_minhash_cte(k: int = 7, num_hashes: int = 8) -> str:
    mh_cols = ",\n    ".join(
        f"list_min([md5(s || ':{i}') for s in shingles]) AS mh_{i}" for i in range(num_hashes)
    )

    # band key folded to a 60-bit int EXACTLY like the Spark side
    # (dedup._text_band_buckets): md5 of the '|'-concatenated band minhashes,
    # first 15 hex chars as a BIGINT — identical mapping, so even a fold
    # collision perturbs both engines' candidate sets the same way
    def fold(b: int) -> str:
        concat = " || '|' || ".join(f"mh_{b * dedup.BAND_SIZE + j}" for j in range(dedup.BAND_SIZE))
        return f"CAST(concat('0x', substring(md5({concat}), 1, 15)) AS BIGINT)"

    more_bands = "".join(f"\n  UNION ALL SELECT doc_id, {b}, {fold(b)} FROM sig"
                         for b in range(1, num_hashes // dedup.BAND_SIZE))

    return f"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN length(text) >= {k}
      THEN list_distinct([substring(text, g, {k}) for g in generate_series(1, length(text) - {k - 1})])
      ELSE [text] END AS shingles
  FROM documents
),
sig AS (
  SELECT doc_id,
    {mh_cols},
    shingles
  FROM sh
),
buckets AS (
  SELECT doc_id, 0 AS band, {fold(0)} AS band_key FROM sig{more_bands}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)
"""


def _sql_simhash() -> str:
    terms = []
    for b in range(dedup.SIMHASH_BITS):
        nib = b // 4 + 1
        shift = 2 ** (b % 4)
        vote = (
            f"list_sum([ (CAST(floor((instr('0123456789abcdef', substring(md5(t), {nib}, 1)) - 1) / {shift}) AS BIGINT) % 2) * 2 - 1 for t in toks])"
        )
        terms.append(f"CASE WHEN {vote} > 0 THEN {2 ** b} ELSE 0 END")
    total = " + ".join(terms)
    return f"""
SELECT doc_id,
  CAST(CASE WHEN len(toks) > 0 THEN {total} ELSE 0 END AS BIGINT) AS simhash
FROM (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
  FROM documents
)
"""


def _sql_lang_id() -> str:
    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        parts = " + ".join(
            f"(length(p) - length(replace(p, '{m}', ''))) / {len(m)}" for m in markers
        )
        score_exprs.append(f"round({parts}, 2) AS score_{lang}")
    scores = ",\n  ".join(score_exprs)
    return f"""
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
s AS (
  SELECT doc_id,
  {scores}
  FROM padded
)
SELECT doc_id, score_en, score_de, score_fr, score_es,
  CASE
    WHEN score_en > 0 AND score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
    WHEN score_de > 0 AND score_de >= score_fr AND score_de >= score_es THEN 'de'
    WHEN score_fr > 0 AND score_fr >= score_es THEN 'fr'
    WHEN score_es > 0 THEN 'es'
    ELSE 'und' END AS lang_guess
FROM s
"""


_SQL_VECS = "v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings)"


def _sql_cos(a: str, b: str) -> str:
    """Cosine of two DOUBLE lists rounded to 4 places — the twin of
    similarity._cosine's sequential left-fold."""
    return (f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)")


def _sql_topk(sims: str, k: int, cols: str) -> str:
    """The deterministic (sim_r DESC, neighbor_id ASC) top-k of a
    (query_id, neighbor_id, sim_r) relation — the twin of
    similarity._top_k."""
    return f"""SELECT {cols} FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id ASC) AS rank
  FROM {sims}
) WHERE rank <= {k}"""


def _sql_exact_sims(n_queries: int) -> str:
    """Exact cosine of the first n_queries vectors against every other one."""
    return f"""SELECT q.query_id, v.vec_id AS neighbor_id, {_sql_cos("q.qe", "v.emb")} AS sim_r
  FROM v JOIN (SELECT vec_id AS query_id, emb AS qe FROM v WHERE vec_id < {n_queries}) q
    ON v.vec_id <> q.query_id"""


def _sql_sim_pairs(vecs: str, threshold: float) -> str:
    """All (vec_a < vec_b) pairs of `vecs` at rounded cosine >= threshold."""
    return f"""SELECT vec_a, vec_b, sim_r FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_sql_cos("a.emb", "b.emb")} AS sim_r
  FROM {vecs} a JOIN {vecs} b ON a.vec_id < b.vec_id
) WHERE sim_r >= {threshold}"""


def _sql_band_sig(vecs: str, X, n_bands: int, rows_per_band: int, seed: int) -> str:
    """(vec_id, band, key) rows of `vecs`, whose vectors are the rows of
    the float64 matrix X — the twin of similarity._band_buckets.  The
    Gaussian plane matrix is a PURE FUNCTION of (seed, bits, dim),
    regenerated here with the identical numpy call and inlined as float64
    SQL literals (repr round-trips doubles exactly), so DuckDB evaluates the
    same sign-of-projection buckets over the same parquet floats.

    Portability: Spark computes the projections as one BLAS GEMM, DuckDB as
    sequential list_dot_product folds — different summation orders can
    disagree ONLY if a projection lands within float rounding of 0
    (measured margin on the fixtures: min |projection| 1.3e-6 at sf0.01,
    ~3e7 x the worst-case accumulated rounding error of a 64-term double
    dot product).  A projection of X within 1e-9 of zero raises here, so a
    fixture or seed without that margin fails loudly instead of gating on
    a sign the two engines may not share."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((n_bands * rows_per_band, X.shape[1]))
    proj = np.abs(X @ planes.T)
    row, bit = np.unravel_index(np.argmin(proj), proj.shape)
    if proj[row, bit] < 1e-9:
        raise ValueError(
            f"oracle band signature: seed-{seed} plane {bit} projects row {row} of {vecs} "
            f"to {proj[row, bit]:.3g}, within 1e-9 of zero; its sign bucket is not "
            f"portable between Spark and DuckDB, so this fixture cannot gate the operator")

    def key_expr(t: int) -> str:
        terms = []
        for j in range(rows_per_band):
            lit = "[" + ", ".join(repr(x) for x in planes[t * rows_per_band + j]) + "]"
            terms.append(f"CASE WHEN list_dot_product(emb, {lit}) > 0 THEN {2 ** j} ELSE 0 END")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    return "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS band, {key_expr(t)} AS key FROM {vecs}" for t in range(n_bands)
    )


def _sql_lsh_ann_cte(X, n_queries: int = 5) -> str:
    """Shared WITH-prefix for the ANN-LSH oracles over the embeddings X:
    the seeded band signatures, the OR-over-tables candidate pairs (`cand`)
    and their exact cosines (`sims`)."""
    return f"""
WITH {_SQL_VECS},
sig AS (
  {_sql_band_sig("v", X, similarity.LSH_ANN_TABLES, similarity.LSH_ANN_PLANES, similarity.LSH_ANN_SEED)}
),
q AS (SELECT vec_id AS query_id, band, key FROM sig WHERE vec_id < {n_queries}),
cand AS (
  SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
  FROM sig s JOIN q ON s.band = q.band AND s.key = q.key AND s.vec_id <> q.query_id
),
sims AS (
  SELECT c.query_id, c.neighbor_id, {_sql_cos("qv.emb", "nv.emb")} AS sim_r
  FROM cand c
  JOIN v qv ON qv.vec_id = c.query_id
  JOIN v nv ON nv.vec_id = c.neighbor_id
)"""


def _sql_lsh_ann_recall(X, k: int = 10, n_queries: int = 5) -> str:
    """DuckDB twin of the ann_lsh_recall query: recomputes BOTH top-k sets
    from scratch — the exact cosine baseline and the banded-LSH top-k (the
    same fragments as the cosine_topk / ann_lsh_topk twins) — and replays
    the left-join hit aggregate, so the recall number itself is
    value-gated."""
    return _sql_lsh_ann_cte(X, n_queries=n_queries) + f""",
lshk AS (
{_sql_topk("sims", k, "query_id, neighbor_id")}
),
xsims AS (
  {_sql_exact_sims(n_queries)}
),
exact AS (
{_sql_topk("xsims", k, "query_id, neighbor_id")}
)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
  CAST(coalesce(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS lsh_recall
FROM exact e LEFT JOIN lshk l ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
"""


# the ranked output of the top-k twins (cosine_topk, ann_lsh_topk)
_SQL_TOPK_COLS = "query_id, neighbor_id, sim_r, CAST(rank AS BIGINT) AS rank"


def _sql_payload_ctes(tp: str) -> str:
    """Shared WITH-prefix of the five payload twins, read from the synth
    transcripts at `tp`.  Each twin is this prefix plus a short SELECT —
    the mirror of the Spark side, where the single-product operators are
    projections of multimodal.payload_profile; DuckDB evaluates only the
    CTEs a twin's SELECT references.

    - raw -> hdr -> dims -> ok: the envelope decode (payload_meta): base64
      decoded and the little-endian header replayed from its hex, byte for
      byte.
    - bm -> rows_ink -> agg: pixel-level replay of the ink/line statistics.
      The blob is reduced to a '1'/'0' ink bitmap C-speed (translate maps
      each hex nibble char: 0-7 -> '1' ink-high-nibble, 8-F -> '0'; the
      global regexp keeps the first char of each non-overlapping pair = the
      high nibble, i.e. byte <= 127 exactly like kernel binarize_inv@127);
      row flags + rising edges then run over h-length lists only.
    - stats: the integer stats plus the two rounded ratios, computed as
      EXACT integer half-up on the true rational (multimodal.round_ratio) on
      BOTH sides: decimal ties are reachable (any denominator dividing
      2*10^k, e.g. h*w = 128 or nz_rows/n_starts = 33/32) and no float
      round() replays Python's binary-double rounding across engines, so
      the compared value is derived from 64-bit integers only — the final
      int/10^k division is IEEE-exact everywhere.  quality_ok compares the
      UNROUNDED double ratio like the Python kernel.
    - st -> t -> thumbs: DuckDB re-BUILDS the decimated envelope — stride
      from the ceil-division the operator uses, stride-sampled pixel hex
      pairs re-assembled, u16le dims re-packed, unhex + base64 — so the
      opaque binary output column itself is value-compared byte for
      byte."""
    return f"""
WITH raw AS (
  SELECT conv_id, turn_idx, from_base64(text) AS p FROM read_parquet('{tp}')
),
hdr AS (
  SELECT conv_id, turn_idx, octet_length(p) AS n, hex(p) AS hh FROM raw
),
dims AS (
  SELECT conv_id, turn_idx, n, hh,
    TRY_CAST(concat('0x', substring(hh, 11, 2), substring(hh, 9, 2)) AS BIGINT) AS h,
    TRY_CAST(concat('0x', substring(hh, 15, 2), substring(hh, 13, 2)) AS BIGINT) AS w,
    substring(hh, 1, 8) AS magic
  FROM hdr
),
ok AS (
  SELECT *, coalesce(n >= 8 AND magic = '47525931' AND h > 0 AND w > 0 AND n = 8 + h * w, FALSE) AS valid
  FROM dims
),
bm AS (
  SELECT conv_id, turn_idx, valid, h, w,
    CASE WHEN valid THEN
      regexp_replace(translate(substring(hh, 17), '0123456789ABCDEF', '1111111100000000'), '(.).', '\\1', 'g')
    ELSE '' END AS bits
  FROM ok
),
rows_ink AS (
  SELECT conv_id, turn_idx, valid, h, w, bits,
    CASE WHEN valid THEN
      [instr(substring(bits, (r-1)*w + 1, w), '1') > 0 for r in generate_series(1, h)]
    ELSE [] END AS row_flags
  FROM bm
),
agg AS (
  SELECT conv_id, turn_idx, valid, h, w,
    length(bits) - length(replace(bits, '1', '')) AS n_ink,
    len(list_filter(generate_series(1, h), r -> row_flags[r] AND (r = 1 OR NOT row_flags[r-1]))) AS n_starts,
    len(list_filter(row_flags, x -> x)) AS nz_rows
  FROM rows_ink
),
stats AS (
  SELECT conv_id, turn_idx,
    CAST(CASE WHEN valid THEN h ELSE 0 END AS BIGINT) AS height,
    CAST(CASE WHEN valid THEN w ELSE 0 END AS BIGINT) AS width,
    CAST(valid AS BIGINT) AS valid,
    CAST(CASE WHEN valid THEN n_ink ELSE 0 END AS BIGINT) AS n_ink,
    CAST(CASE WHEN valid THEN h * w ELSE 0 END AS BIGINT) AS n_pixels,
    CAST(CASE WHEN valid THEN n_starts ELSE 0 END AS BIGINT) AS n_lines,
    CAST(CASE WHEN valid THEN nz_rows ELSE 0 END AS BIGINT) AS nz_rows,
    CASE WHEN valid THEN CAST((n_ink * 2000000 + h * w) // (2 * h * w) AS DOUBLE) / 1000000 ELSE 0.0 END AS ink_ratio,
    CASE WHEN valid AND n_starts > 0 THEN CAST((nz_rows * 20000 + n_starts) // (2 * n_starts) AS DOUBLE) / 10000 ELSE 0.0 END AS mean_line_height,
    CAST(CASE WHEN valid AND n_starts > 0
          AND CAST(n_ink AS DOUBLE) / (h * w) >= {multimodal.MIN_INK}
          AND CAST(n_ink AS DOUBLE) / (h * w) <= {multimodal.MAX_INK}
         THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
  FROM agg
),
st AS (
  SELECT conv_id, turn_idx, valid, h, w, hh,
    CASE WHEN valid THEN greatest(1, (greatest(h, w) + 31) // 32) ELSE 1 END AS stride
  FROM ok
),
t AS (
  SELECT conv_id, turn_idx, valid, stride,
    CASE WHEN valid THEN (h - 1) // stride + 1 ELSE 0 END AS h2,
    CASE WHEN valid THEN (w - 1) // stride + 1 ELSE 0 END AS w2,
    CASE WHEN valid THEN
      array_to_string([
        array_to_string([substring(hh, 17 + 2*(r*w + c), 2) for c in generate_series(0, w-1, stride)], '')
        for r in generate_series(0, h-1, stride)], '')
    ELSE '' END AS px
  FROM st
),
thumbs AS (
  SELECT conv_id, turn_idx,
    CASE WHEN valid THEN
      to_base64(unhex(concat('47525931',
        lpad(hex(h2 % 256), 2, '0'), lpad(hex(h2 // 256), 2, '0'),
        lpad(hex(w2 % 256), 2, '0'), lpad(hex(w2 // 256), 2, '0'),
        px)))
    ELSE '' END AS thumb,
    CAST(h2 AS BIGINT) AS thumb_height, CAST(w2 AS BIGINT) AS thumb_width,
    CAST(valid AS BIGINT) AS valid
  FROM t
)"""


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB twins for every oracle-backed query.

    sf_dir: the testdata scale the PAYLOAD oracles' synth-transcripts path
    is derived from.  Resolution: explicit argument > SPARK_GRAFT_ORACLE_SF_DIR
    env var > the driver's correctness scale (sf0.01).  The driver calls
    this no-arg at sf0.01, so the default aligns; any orchestration at
    another scale passes it explicitly (tools/check_oracles.py does) —
    query builders do NOT mutate process globals, so call order between
    queries() and oracle_sql() never changes the comparison."""
    sql: dict[str, str] = {}

    sql["dedup_exact"] = """
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""

    sql["minhash_lsh_pairs"] = _sql_minhash_cte() + "SELECT doc_a, doc_b FROM cand"

    # the Spark verify maps shingles to 60-bit ints (first 15 md5 hex chars)
    # before intersecting; the oracle applies the IDENTICAL mapping so any
    # collision perturbs both engines' counts the same way
    ish = ("list_distinct([CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)"
           " for s in shingles])")
    jaccard_verify = f"""
  SELECT c.doc_a, c.doc_b,
    round(CAST(len(list_intersect(a.ish, b.ish)) AS DOUBLE)
          / (len(a.ish) + len(b.ish) - len(list_intersect(a.ish, b.ish))), 4) AS jaccard
  FROM cand c
  JOIN (SELECT doc_id, {ish} AS ish FROM sh) a ON a.doc_id = c.doc_a
  JOIN (SELECT doc_id, {ish} AS ish FROM sh) b ON b.doc_id = c.doc_b
"""

    sql["jaccard_pairs"] = _sql_minhash_cte() + f"""
SELECT doc_a, doc_b, jaccard FROM (
{jaccard_verify}
) WHERE jaccard >= 0.6
"""

    sql["simhash"] = _sql_simhash()

    sql["dedup_groups"] = _sql_minhash_cte().replace("WITH sh AS", "WITH RECURSIVE sh AS", 1) + f"""
, verified AS (
  SELECT doc_a, doc_b FROM (
{jaccard_verify}
  ) WHERE jaccard >= 0.6
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT d.doc_id, coalesce(g.group_rep, d.doc_id) AS group_rep
FROM documents d
LEFT JOIN (SELECT a AS doc_id, min(b) AS group_rep FROM reach GROUP BY a) g
  ON g.doc_id = d.doc_id
"""

    sql["token_stats"] = """
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  round(CASE WHEN len(toks) > 0 THEN CAST(list_sum([length(t) for t in toks]) AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS avg_token_len
FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks FROM documents)
"""

    sql["quality"] = """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_m,
  round(CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) AS alpha_ratio,
  round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) AS digit_ratio,
  round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / greatest(length(text), 1), 4) AS space_ratio,
  CAST(CASE WHEN length(text) >= 20
        AND round(CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) >= 0.5
        AND round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) <= 0.3
       THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
FROM documents
"""

    sql["lang_id"] = _sql_lang_id()

    bpe_pat_sql = BPE_SPLIT_PATTERN.replace("'", "''")
    sql["bpe_tokens"] = f"""
WITH p AS (SELECT doc_id, regexp_extract_all(text, '{bpe_pat_sql}') AS pieces FROM documents)
SELECT doc_id,
  CAST(len(pieces) AS BIGINT) AS n_pieces,
  CAST(len(list_filter(pieces, t -> regexp_matches(t, '^ ?[A-Za-z0-9]'))) AS BIGINT) AS n_word_pieces,
  round(CASE WHEN len(pieces) > 0
        THEN CAST(list_sum([length(t) for t in pieces]) AS DOUBLE) / len(pieces)
        ELSE 0.0 END, 4) AS avg_piece_len
FROM p
"""

    sql["fingerprint"] = f"""
SELECT doc_id,
  CASE WHEN length(text) < {FINGERPRINT_K} THEN md5(text)
       ELSE list_min([md5(substring(text, g, {FINGERPRINT_K})) for g in generate_series(1, length(text) - {FINGERPRINT_K - 1})]) END AS fingerprint
FROM documents
"""

    sql["cosine_topk"] = f"""
WITH {_SQL_VECS},
sims AS (
  {_sql_exact_sims(5)}
)
{_sql_topk("sims", 10, _SQL_TOPK_COLS)}
"""

    sql["embedding_dup_pairs"] = f"""
WITH {_SQL_VECS}
{_sql_sim_pairs("v", similarity.DUP_THRESHOLD)}
"""

    # the payload twins read the synth transcripts by path: that table is
    # not among the driver's pre-registered views.  sf defaults to the
    # driver's correctness scale (sf0.01) and tools/check_oracles.py passes
    # its own sf_dir to keep the two sides consistent.  synth_dir_for()
    # builds the fixture if missing, so the oracle is self-sufficient
    # whichever side the driver runs first.
    meta_sf = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    tp = os.path.join(synth_dir_for(meta_sf), "transcripts.parquet").replace("'", "''")
    payload = _sql_payload_ctes(tp)
    sql["payload_meta"] = payload + """
SELECT conv_id, turn_idx,
  CASE WHEN valid THEN h ELSE 0 END AS height,
  CASE WHEN valid THEN w ELSE 0 END AS width,
  CAST(valid AS BIGINT) AS valid
FROM ok
"""
    sql["payload_ink"] = payload + """
SELECT conv_id, turn_idx, n_ink, n_pixels, n_lines, nz_rows FROM stats
"""
    sql["payload_features"] = payload + """
SELECT conv_id, turn_idx, height, width, valid, ink_ratio, n_lines, mean_line_height, quality_ok
FROM stats
"""
    sql["payload_thumbnail"] = payload + """
SELECT conv_id, turn_idx, thumb, thumb_height AS height, thumb_width AS width, valid FROM thumbs
"""
    sql["payload_profile"] = payload + """
SELECT stats.*, thumbs.thumb, thumbs.thumb_height, thumbs.thumb_width
FROM stats JOIN thumbs ON stats.conv_id = thumbs.conv_id AND stats.turn_idx = thumbs.turn_idx
"""

    # high-threshold near-dup: the oracle replays the deterministic planting
    # arithmetic (_augmented_embeddings) on the same parquet floats, then
    # does the exact all-pairs join at 0.95 — the Spark side must find every
    # planted duplicate through its LSH bands and reject every decoy
    perturb = ("[emb[g] * (1 + {amp} * (((g-1) % 7) - 3) / CAST(30.0 AS DOUBLE)) "
               "for g in generate_series(1, len(emb))]")
    aug_cte = f"""
WITH {_SQL_VECS},
aug AS (
  SELECT vec_id, emb FROM v
  UNION ALL
  SELECT vec_id + 1000000, {perturb.format(amp="CAST(0.5 AS DOUBLE) * (1 + vec_id % 4)")}
  FROM v WHERE vec_id < {_N_PLANTED}
  UNION ALL
  SELECT vec_id + 2000000, {perturb.format(amp="CAST(6.0 AS DOUBLE)")}
  FROM v WHERE vec_id >= {_N_PLANTED} AND vec_id < {_N_PLANTED + _N_DECOYS}
)"""
    sql["embedding_neardup_hi"] = aug_cte + f"""
{_sql_sim_pairs("aug", 0.95)}
"""

    # the seeded band-signature twins need the vectors themselves (their
    # dim, the margin check, and for the near-dup cands the aug row count),
    # read once from the same sf dir the registered views point at
    # (resolution as meta_sf above); skipped (rows-only fallback) if the
    # table is absent
    emb_path = os.path.join(meta_sf, "embeddings.parquet")
    if os.path.exists(emb_path):
        import duckdb
        import numpy as np

        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_path}')")

        def vectors(query: str):
            return np.asarray([r[0] for r in con.sql(query).fetchall()])

        base_X = vectors(f"WITH {_SQL_VECS}\nSELECT emb FROM v")
        aug_X = vectors(f"{aug_cte}\nSELECT emb FROM aug")
        # the ann_lsh candidate stage, and the FULL LSH top-k: deterministic
        # end-to-end (seeded candidates + exact cosine + deterministic
        # tie-break), so it is value-gated — only IVF (trained quantizer)
        # and the recall measurement built on it remain rows-only
        lsh = _sql_lsh_ann_cte(base_X)
        sql["ann_lsh_candidates"] = lsh + "\nSELECT query_id, neighbor_id FROM cand\n"
        sql["ann_lsh_topk"] = lsh + f"\n{_sql_topk('sims', 10, _SQL_TOPK_COLS)}\n"
        sql["ann_lsh_recall"] = _sql_lsh_ann_recall(base_X)
        # the near-dup candidate stage, oracle-gated like ann_lsh_candidates:
        # the collision-model (b, r) for the SAME corpus count the Spark
        # query derives (the aug reconstruction's rows, so a fixture with
        # sparse or missing low ids sizes both engines' banding alike), the
        # near-dup planes, and the banded sign-bucket self-join over it
        nb, rpb = neardup_band_params(len(aug_X))
        sql["embedding_neardup_cands"] = aug_cte + f""",
sig AS (
  {_sql_band_sig("aug", aug_X, nb, rpb, similarity.NEARDUP_SEED)}
)
SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
FROM sig l JOIN sig r ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
"""

    sql["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    sql["orders_by_nation"] = """
SELECT n_name AS nation, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["events_hourly"] = """
SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value,
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s
FROM events GROUP BY date_trunc('hour', ts), event_type
"""

    sql["asof_join"] = f"""
SELECT p.event_id AS purchase_id, p.user_id,
  c.event_id AS click_id, epoch_us(c.ts) AS click_us
FROM (SELECT * FROM events WHERE event_type = '{relational.ASOF_LEFT_TYPE}') p
ASOF LEFT JOIN (
  SELECT user_id, ts, max(event_id) AS event_id
  FROM events WHERE event_type = '{relational.ASOF_RIGHT_TYPE}' GROUP BY user_id, ts
) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

    sql["range_join"] = f"""
SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + {relational.RANGE_SECONDS * 1_000_000}
"""

    # curation keep-list: extend the dedup_groups recursive chain with the
    # quality gate and token budget (one survivor per duplicate cluster)
    final_sel = """SELECT d.doc_id, coalesce(g.group_rep, d.doc_id) AS group_rep
FROM documents d
LEFT JOIN (SELECT a AS doc_id, min(b) AS group_rep FROM reach GROUP BY a) g
  ON g.doc_id = d.doc_id"""
    assert final_sel in sql["dedup_groups"]
    sql["curated_docs"] = sql["dedup_groups"].replace(final_sel, """, groups AS (
""" + final_sel + """
)
SELECT d.doc_id,
  CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
FROM documents d
JOIN groups gr ON gr.doc_id = d.doc_id AND gr.group_rep = d.doc_id
WHERE length(d.text) >= 20
  AND round(CAST(length(d.text) - length(regexp_replace(d.text, '[A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(d.text), 1), 4) >= 0.5
  AND round(CAST(length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')) AS DOUBLE) / greatest(length(d.text), 1), 4) <= 0.3""")
    return sql
