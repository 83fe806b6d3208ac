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
from arabic_ocr_spark.kernel.classifier import CharModel
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
    LANG_MARKERS,
    bpe_token_stats,
    curated_docs,
    fingerprints,
    lang_id,
    quality_scores,
    token_stats,
)
from arabic_ocr_spark.sources.synth import SynthConfig, default_model_path, synthesize

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


_EXTRACTION_CACHE: dict[tuple[str, str], DataFrame] = {}


def _evict_cache(cache: dict, key: tuple[str, str]) -> None:
    """Bound a per-(session, sf_dir) result cache to ONE live entry: evict
    entries from other sessions (their persisted blocks died with the
    stopped session, but the Python references would pin them forever) AND
    other sf_dirs of the live session (an unbounded per-sf cache would pin
    every scale's persisted stages for the whole application lifetime),
    unpersisting whatever is evicted.

    Known trade-off: a single session interleaving TWO scales (no current
    flow does — driver gate, bench, and tools each pin one sf_dir per
    session) would thrash-recompute on every alternation; if a multi-scale
    flow ever appears, widen this to keep-last-K sf_dirs instead of
    exactly one.  Correctness is unaffected either way — evicted entries
    are recomputed, never reused stale."""
    for stale in [k for k in cache if k != key]:
        v = cache.pop(stale)
        for df in (v.values() if isinstance(v, dict) else [v]):
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped; nothing left to unpersist


def _extraction_plan(spark: SparkSession, sf_dir: str, cached: bool = True) -> DataFrame:
    """The extraction result, persisted per (session, sf_dir): several
    driver queries (extract_turns / extract_eval / extract_lineage) consume
    the same kernel output, and the kernel dominates their cost — the first
    query pays it, the rest reuse the cached partitions.  cached=False
    returns the raw un-persisted plan (plan-shape tests)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _EXTRACTION_CACHE.get(key)
    if hit is not None and cached:
        return hit
    _evict_cache(_EXTRACTION_CACHE, key)
    d = synth_dir_for(sf_dir)
    df = spark.read.parquet(os.path.join(d, "transcripts.parquet")).filter(F.col("text") != "")
    # 128 chunks: ~4 task rounds at 32 cores so stragglers average out
    cfg = ExtractionJobConfig(num_chunks=128, model_path=default_model_path())
    result = plan_extraction(spark, df, cfg, model=CharModel.load(default_model_path()))
    if not cached:
        return result
    result = result.persist()
    _EXTRACTION_CACHE[key] = result
    return result


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
    return j.agg(
        F.count("*").cast("long").alias("n_turns"),
        # the gate: per-turn equality vs the serial oracle
        F.round(F.avg((F.col("extracted_text") == F.col("expected_text")).cast("double")), 6).alias("exact_match_rate"),
        F.round(
            F.avg(
                F.greatest(
                    F.lit(0.0),
                    1 - F.levenshtein(strip("extracted_text"), strip("expected_text"))
                    / F.greatest(F.length(strip("expected_text")), F.lit(1)),
                )
            ),
            6,
        ).alias("lev_accuracy"),
        # recognition quality vs the composed ground truth (bounded by the
        # reference's own deskew estimator on the rotated pool subset)
        F.round(F.avg((F.col("extracted_text") == F.col("true_text")).cast("double")), 6).alias("true_exact_rate"),
        F.round(
            F.avg(
                F.greatest(
                    F.lit(0.0),
                    1 - F.levenshtein(strip("extracted_text"), strip("true_text"))
                    / F.greatest(F.length(strip("true_text")), F.lit(1)),
                )
            ),
            6,
        ).alias("true_lev_accuracy"),
    )


def _q_extract_lineage(spark, sf_dir):
    """Per-chunk lineage aggregate (partition id, turn range, rows, failures):
    a projection of the job's own lineage_rows."""
    return lineage_rows(_extraction_plan(spark, sf_dir), wave=0).select(
        "chunk", "rows_processed", "n_ok",
        F.col("turn_min").cast("long").alias("turn_min"),
        F.col("turn_max").cast("long").alias("turn_max"),
    )


_DEDUP_CACHE: dict[tuple[str, str], dict] = {}


def _dedup_chain(spark: SparkSession, sf_dir: str, stage: str) -> DataFrame:
    """The near-dup ladder is a CHAIN — LSH candidates -> Jaccard-verified
    pairs -> CC groups — and four driver queries consume successive stages
    of it, sharing the expensive prefix.  Same pattern (and precedent) as
    the extraction-plan cache: each stage persists once per
    (session, sf_dir); the first consumer pays it, later consumers and the
    curation composition reuse the materialized partitions.  That is also
    how a production pipeline consumes the ladder: compute once, read many
    — re-deriving the LSH subtree per downstream consumer is the
    anti-pattern the cache removes.  Values are identical either way (the
    oracle gate checks every stage independently)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    _evict_cache(_DEDUP_CACHE, key)
    cache = _DEDUP_CACHE.setdefault(key, {})
    docs = _t(spark, sf_dir, "documents")
    if stage == "cands":
        if "cands" not in cache:
            cache["cands"] = lsh_candidate_pairs(docs).persist()
        return cache["cands"]
    if stage == "pairs":
        if "pairs" not in cache:
            cache["pairs"] = jaccard_verified_pairs(
                docs, candidates=_dedup_chain(spark, sf_dir, "cands")
            ).persist()
        return cache["pairs"]
    if "groups" not in cache:
        cache["groups"] = dedup_groups(
            docs, pairs=_dedup_chain(spark, sf_dir, "pairs")
        ).persist()
    return cache["groups"]


_ANN_CACHE: dict[tuple[str, str], dict] = {}


def _ann_chain(spark: SparkSession, sf_dir: str, stage: str) -> DataFrame:
    """The ANN suite shares its materialized stages the way the dedup
    ladder does: the exact cosine baseline, the IVF top-k and the LSH top-k
    each persist once per (session, sf_dir); the top-k driver queries and
    the ann_recall measurement consume the SAME results (pre-r4 ann_recall
    re-derived the whole suite from scratch, so the bench paid the ANN
    queries twice).  Values are identical either way — recall is a join
    over the same outputs."""
    key = (spark.sparkContext.applicationId, sf_dir)
    _evict_cache(_ANN_CACHE, key)
    cache = _ANN_CACHE.setdefault(key, {})
    if stage not in cache:
        emb = _t(spark, sf_dir, "embeddings")
        if stage == "exact":
            cache[stage] = cosine_topk(emb).persist()
        elif stage == "ivf":
            cache[stage] = ivf_ann_topk(emb).persist()
        else:
            cache[stage] = lsh_ann_topk(emb).persist()
    return cache[stage]


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


_PROFILE_CACHE: dict[tuple[str, str], dict] = {}


def _profile_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused payload sweep (operators/multimodal.payload_profile) is
    the shared prefix of the three heavy per-image driver queries —
    payload_features, payload_ink, payload_thumbnail are column projections
    of its ONE decode pass.  Same pattern (and precedent) as _dedup_chain:
    the profile persists once per (session, sf_dir); the first consumer
    pays the decode, later consumers read the materialized partitions.
    That is the production shape the operator exists for: payload bytes
    dominate the scan cost at 100 TB, so a pipeline wanting features + ink
    stats + thumbnails decodes each payload once, not once per consumer.
    Values are identical either way — the library operators remain
    independently callable and every projection is oracle-gated.
    (payload_meta stays standalone: its JVM-only envelope decode never
    touches Python, so routing it through the profile would ADD cost.)"""
    key = (spark.sparkContext.applicationId, sf_dir)
    _evict_cache(_PROFILE_CACHE, key)
    cache = _PROFILE_CACHE.setdefault(key, {})
    if "profile" not in cache:
        d = synth_dir_for(sf_dir)
        df = spark.read.parquet(os.path.join(d, "transcripts.parquet"))
        cache["profile"] = payload_profile(df).persist()
    return cache["profile"]


def _q_payload_meta(spark, sf_dir):
    """Multimodal envelope headers (height, width, valid) decoded entirely
    JVM-side (operators/multimodal.py) — the cheap validity sweep.  Output
    numerics cast to long so the schema matches the DuckDB oracle's BIGINTs
    (driver compare is schema-strict).

    NB: the payload oracles read the synth transcripts by path; at a
    NON-default sf_dir pass it to oracle_sql(sf_dir=...) explicitly (or set
    SPARK_GRAFT_ORACLE_SF_DIR) — query builders no longer mutate process
    globals, so oracle/query alignment is order-independent."""
    d = synth_dir_for(sf_dir)
    df = spark.read.parquet(os.path.join(d, "transcripts.parquet"))
    m = payload_meta(df)
    return m.select(
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
    # same sign-of-projection bucketing (see _sql_lsh_ann_candidates)
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
        concat = f"mh_{2 * b} || '|' || mh_{2 * b + 1}"
        return f"CAST(concat('0x', substring(md5({concat}), 1, 15)) AS BIGINT)"

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
  SELECT doc_id, 0 AS band, {fold(0)} AS band_key FROM sig
  UNION ALL SELECT doc_id, 1, {fold(1)} FROM sig
  UNION ALL SELECT doc_id, 2, {fold(2)} FROM sig
  UNION ALL SELECT doc_id, 3, {fold(3)} FROM sig
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)
"""


def _sql_simhash(bits: int = 16) -> str:
    terms = []
    for b in range(bits):
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


def _sql_lsh_ann_cte(dim: int, n_queries: int = 5, n_planes: int = 4,
                     n_tables: int = 16, seed: int = 11) -> str:
    """Shared WITH-prefix for the ANN-LSH oracles (candidates + full top-k):
    DuckDB twin of similarity._band_buckets — the Gaussian plane matrix is a
    PURE FUNCTION of (seed, bits, dim), regenerated here with the identical
    numpy call and inlined as float64 SQL literals (repr round-trips doubles
    exactly), so DuckDB evaluates the same sign-of-projection buckets over
    the same parquet floats.

    Portability note: Spark computes the projections as one BLAS GEMM,
    DuckDB as sequential list_dot_product folds — different summation
    orders can disagree ONLY if a projection lands within float rounding of
    0 (measured margin on the fixtures: min |projection| 1.3e-6 at sf0.01,
    ~3e7 x the worst-case accumulated rounding error of a 64-term double
    dot product), and the check is deterministic for a fixed
    (seed, corpus), so green once is green always."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((n_tables * n_planes, dim))

    def key_expr(t: int) -> str:
        terms = []
        for j in range(n_planes):
            lit = "[" + ", ".join(repr(x) for x in planes[t * n_planes + j]) + "]"
            terms.append(f"CASE WHEN list_dot_product(emb, {lit}) > 0 THEN {2 ** j} ELSE 0 END")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    sig_branches = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS band, {key_expr(t)} AS key FROM v" for t in range(n_tables)
    )
    return f"""
WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
sig AS (
  {sig_branches}
),
q AS (SELECT vec_id AS query_id, band, key FROM sig WHERE vec_id < {n_queries}),
cand AS (
  SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
  FROM sig s JOIN q ON s.band = q.band AND s.key = q.key AND s.vec_id <> q.query_id
)"""


def _sql_lsh_ann_candidates(dim: int, **kw) -> str:
    return _sql_lsh_ann_cte(dim, **kw) + """
SELECT query_id, neighbor_id FROM cand
"""


_SQL_LSH_SIMS = """,
sims AS (
  SELECT c.query_id, c.neighbor_id,
    round(list_dot_product(qv.emb, nv.emb)
          / (sqrt(list_dot_product(qv.emb, qv.emb)) * sqrt(list_dot_product(nv.emb, nv.emb))), 4) AS sim_r
  FROM cand c
  JOIN v qv ON qv.vec_id = c.query_id
  JOIN v nv ON nv.vec_id = c.neighbor_id
)"""


def _sql_lsh_ann_recall(dim: int, k: int = 10, n_queries: int = 5, **kw) -> str:
    """DuckDB twin of the ann_lsh_recall query: recomputes BOTH top-k sets
    from scratch — the exact cosine baseline and the banded-LSH top-k (the
    same CTEs as the cosine_topk / ann_lsh_topk twins) — and replays the
    left-join hit aggregate, so the recall number itself is value-gated."""
    return _sql_lsh_ann_cte(dim, n_queries=n_queries, **kw) + _SQL_LSH_SIMS + f""",
lshk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id ASC) AS rank
    FROM sims
  ) WHERE rank <= {k}
),
xsims AS (
  SELECT q2.query_id, v2.vec_id AS neighbor_id,
    round(list_dot_product(q2.qe, v2.emb)
          / (sqrt(list_dot_product(q2.qe, q2.qe)) * sqrt(list_dot_product(v2.emb, v2.emb))), 4) AS sim_r
  FROM v v2 JOIN (SELECT vec_id AS query_id, emb AS qe FROM v WHERE vec_id < {n_queries}) q2
    ON v2.vec_id <> q2.query_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id ASC) AS rank
    FROM xsims
  ) WHERE rank <= {k}
)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
  CAST(coalesce(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS lsh_recall
FROM exact e LEFT JOIN lshk l ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
"""


def _sql_lsh_ann_topk(dim: int, k: int = 10, **kw) -> str:
    """Full ann_lsh_topk twin: the candidate CTE above + exact cosine over
    the candidate pairs + the deterministic (sim_r DESC, neighbor_id ASC)
    row_number ranking — the whole operator is a deterministic function of
    (seed, corpus), so it is value-gated end-to-end; even its RECALL vs the
    exact baseline is a replayable constant (see _sql_lsh_ann_recall)."""
    return _sql_lsh_ann_cte(dim, **kw) + _SQL_LSH_SIMS + f"""
SELECT query_id, neighbor_id, sim_r, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id ASC) AS rank
  FROM sims
) WHERE rank <= {k}
"""


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

    sql["fingerprint"] = """
SELECT doc_id,
  CASE WHEN length(text) < 8 THEN md5(text)
       ELSE list_min([md5(substring(text, g, 8)) for g in generate_series(1, length(text) - 7)]) END AS fingerprint
FROM documents
"""

    sql["cosine_topk"] = """
WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qe FROM v WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
    round(list_dot_product(q.qe, v.emb)
          / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(v.emb, v.emb))), 4) AS sim_r
  FROM v, q WHERE v.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sim_r, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id ASC) AS rank
  FROM sims
) WHERE rank <= 10
"""

    sql["embedding_dup_pairs"] = """
WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings)
SELECT vec_a, vec_b, sim_r FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    round(list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS sim_r
  FROM v a JOIN v b ON a.vec_id < b.vec_id
) WHERE sim_r >= 0.38
"""

    # payload_meta: the JVM-side envelope decode IS SQL-expressible — DuckDB
    # decodes the same base64 and replays the little-endian hex arithmetic
    # byte for byte.  The synth transcripts table is not among the driver's
    # pre-registered views, so the oracle reads it by path; sf defaults to
    # the driver's correctness scale (sf0.01) and tools/check_oracles.py
    # overrides via env to keep its own sf_dir consistent.  synth_dir_for()
    # builds the fixture if missing, so the oracle is self-sufficient
    # whichever side the driver runs first.
    meta_sf = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    tp = os.path.join(synth_dir_for(meta_sf), "transcripts.parquet").replace("'", "''")

    # ann_lsh candidate stage: the plane literals need the corpus dim, read
    # once from the same sf dir the driver's views point at (resolution as
    # meta_sf above); skipped (rows-only fallback) if the table is absent
    emb_path = os.path.join(meta_sf, "embeddings.parquet")
    if os.path.exists(emb_path):
        import duckdb as _duckdb

        dim = _duckdb.sql(
            f"SELECT len(embedding) FROM read_parquet('{emb_path}') LIMIT 1"
        ).fetchone()[0]
        sql["ann_lsh_candidates"] = _sql_lsh_ann_candidates(int(dim))
        # the FULL LSH top-k is deterministic end-to-end (seeded candidates
        # + exact cosine + deterministic tie-break), so it is value-gated —
        # it leaves the rows-only set; only IVF (trained quantizer) and the
        # recall measurement built on it remain rows-only
        sql["ann_lsh_topk"] = _sql_lsh_ann_topk(int(dim))
        sql["ann_lsh_recall"] = _sql_lsh_ann_recall(int(dim))
    sql["payload_meta"] = f"""
WITH hx AS (
  SELECT conv_id, turn_idx,
    octet_length(from_base64(text)) AS n, hex(from_base64(text)) AS h
  FROM read_parquet('{tp}')
),
dims AS (
  SELECT conv_id, turn_idx, n,
    TRY_CAST(concat('0x', substring(h, 11, 2), substring(h, 9, 2)) AS BIGINT) AS ht,
    TRY_CAST(concat('0x', substring(h, 15, 2), substring(h, 13, 2)) AS BIGINT) AS wd,
    substring(h, 1, 8) AS magic
  FROM hx
),
ok AS (
  SELECT conv_id, turn_idx, ht, wd,
    coalesce(n >= 8 AND magic = '47525931' AND ht > 0 AND wd > 0
             AND n = 8 + ht * wd, FALSE) AS valid
  FROM dims
)
SELECT conv_id, turn_idx,
  CASE WHEN valid THEN ht ELSE 0 END AS height,
  CASE WHEN valid THEN wd ELSE 0 END AS width,
  CAST(valid AS BIGINT) AS valid
FROM ok
"""

    # payload_ink: pixel-level replay of the ink/line statistics.  The blob
    # is reduced to a '1'/'0' ink bitmap C-speed (translate maps each hex
    # nibble char: 0-7 -> '1' ink-high-nibble, 8-F -> '0'; the global
    # regexp keeps the first char of each non-overlapping pair = the high
    # nibble, i.e. byte <= 127 exactly like kernel binarize_inv@127);
    # row flags + rising edges then run over h-length lists only.  All
    # outputs are exact integers — no float rounding anywhere.
    sql["payload_ink"] = f"""
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
)
SELECT conv_id, turn_idx,
  CASE WHEN valid THEN CAST(length(bits) - length(replace(bits, '1', '')) AS BIGINT) ELSE 0 END AS n_ink,
  CASE WHEN valid THEN h * w ELSE 0 END AS n_pixels,
  CASE WHEN valid THEN CAST(len(list_filter(generate_series(1, h), r -> row_flags[r] AND (r = 1 OR NOT row_flags[r-1]))) AS BIGINT) ELSE 0 END AS n_lines,
  CASE WHEN valid THEN CAST(len(list_filter(row_flags, x -> x)) AS BIGINT) ELSE 0 END AS nz_rows
FROM rows_ink
"""

    # payload_features: the ratio/quality view over the same bitmap replay
    # as payload_ink.  The two rounded ratios are computed as EXACT integer
    # half-up on the true rational (operators/multimodal.round_ratio) on
    # BOTH sides: decimal ties are reachable (any denominator dividing
    # 2*10^k, e.g. h*w = 128 or nz_rows/n_starts = 33/32) and no float
    # round() replays Python's binary-double rounding across engines, so
    # the compared value is derived from 64-bit integers only — the final
    # int/10^k division is IEEE-exact everywhere.  quality_ok compares the
    # UNROUNDED double ratio like the Python kernel.
    sql["payload_features"] = f"""
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
)
SELECT conv_id, turn_idx,
  CAST(CASE WHEN valid THEN h ELSE 0 END AS BIGINT) AS height,
  CAST(CASE WHEN valid THEN w ELSE 0 END AS BIGINT) AS width,
  CAST(valid AS BIGINT) AS valid,
  CASE WHEN valid THEN CAST((n_ink * 2000000 + h * w) // (2 * h * w) AS DOUBLE) / 1000000 ELSE 0.0 END AS ink_ratio,
  CAST(CASE WHEN valid THEN n_starts ELSE 0 END AS BIGINT) AS n_lines,
  CASE WHEN valid AND n_starts > 0 THEN CAST((nz_rows * 20000 + n_starts) // (2 * n_starts) AS DOUBLE) / 10000 ELSE 0.0 END AS mean_line_height,
  CAST(CASE WHEN valid AND n_starts > 0
        AND CAST(n_ink AS DOUBLE) / (h * w) >= 0.005
        AND CAST(n_ink AS DOUBLE) / (h * w) <= 0.5
       THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
FROM agg
"""

    # payload_thumbnail: DuckDB re-BUILDS the decimated envelope — stride
    # from the ceil-division the operator uses, stride-sampled pixel hex
    # pairs re-assembled, u16le dims re-packed, unhex + base64 — so the
    # opaque binary output column itself is value-compared byte for byte.
    sql["payload_thumbnail"] = f"""
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
)
SELECT conv_id, turn_idx,
  CASE WHEN valid THEN
    to_base64(unhex(concat('47525931',
      lpad(hex(h2 % 256), 2, '0'), lpad(hex(h2 // 256), 2, '0'),
      lpad(hex(w2 % 256), 2, '0'), lpad(hex(w2 // 256), 2, '0'),
      px)))
  ELSE '' END AS thumb,
  CAST(h2 AS BIGINT) AS height, CAST(w2 AS BIGINT) AS width, CAST(valid AS BIGINT) AS valid
FROM t
"""

    # payload_profile: the fused sweep's oracle composes the payload_ink
    # bitmap replay (integer stats + half-up ratio arithmetic) with the
    # thumbnail envelope re-build, joined on the turn key from the shared
    # header CTEs — every fused column is value-compared in one statement.
    sql["payload_profile"] = f"""
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
)
SELECT a.conv_id, a.turn_idx,
  CAST(CASE WHEN a.valid THEN a.h ELSE 0 END AS BIGINT) AS height,
  CAST(CASE WHEN a.valid THEN a.w ELSE 0 END AS BIGINT) AS width,
  CAST(a.valid AS BIGINT) AS valid,
  CAST(CASE WHEN a.valid THEN a.n_ink ELSE 0 END AS BIGINT) AS n_ink,
  CAST(CASE WHEN a.valid THEN a.h * a.w ELSE 0 END AS BIGINT) AS n_pixels,
  CAST(CASE WHEN a.valid THEN a.n_starts ELSE 0 END AS BIGINT) AS n_lines,
  CAST(CASE WHEN a.valid THEN a.nz_rows ELSE 0 END AS BIGINT) AS nz_rows,
  CASE WHEN a.valid THEN CAST((a.n_ink * 2000000 + a.h * a.w) // (2 * a.h * a.w) AS DOUBLE) / 1000000 ELSE 0.0 END AS ink_ratio,
  CASE WHEN a.valid AND a.n_starts > 0 THEN CAST((a.nz_rows * 20000 + a.n_starts) // (2 * a.n_starts) AS DOUBLE) / 10000 ELSE 0.0 END AS mean_line_height,
  CAST(CASE WHEN a.valid AND a.n_starts > 0
        AND CAST(a.n_ink AS DOUBLE) / (a.h * a.w) >= 0.005
        AND CAST(a.n_ink AS DOUBLE) / (a.h * a.w) <= 0.5
       THEN 1 ELSE 0 END AS BIGINT) AS quality_ok,
  CASE WHEN t.valid THEN
    to_base64(unhex(concat('47525931',
      lpad(hex(t.h2 % 256), 2, '0'), lpad(hex(t.h2 // 256), 2, '0'),
      lpad(hex(t.w2 % 256), 2, '0'), lpad(hex(t.w2 // 256), 2, '0'),
      t.px)))
  ELSE '' END AS thumb,
  CAST(t.h2 AS BIGINT) AS thumb_height, CAST(t.w2 AS BIGINT) AS thumb_width
FROM agg a JOIN t ON a.conv_id = t.conv_id AND a.turn_idx = t.turn_idx
"""

    # high-threshold near-dup: the oracle replays the deterministic planting
    # arithmetic (_augmented_embeddings) on the same parquet floats, then
    # does the exact all-pairs join at 0.95 — the Spark side must find every
    # planted duplicate through its LSH bands and reject every decoy
    perturb = ("[emb[g] * (1 + {amp} * (((g-1) % 7) - 3) / CAST(30.0 AS DOUBLE)) "
               "for g in generate_series(1, len(emb))]")
    aug_cte = f"""
WITH base AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
aug AS (
  SELECT vec_id, emb FROM base
  UNION ALL
  SELECT vec_id + 1000000, {perturb.format(amp="CAST(0.5 AS DOUBLE) * (1 + vec_id % 4)")}
  FROM base WHERE vec_id < {_N_PLANTED}
  UNION ALL
  SELECT vec_id + 2000000, {perturb.format(amp="CAST(6.0 AS DOUBLE)")}
  FROM base WHERE vec_id >= {_N_PLANTED} AND vec_id < {_N_PLANTED + _N_DECOYS}
)"""
    sql["embedding_neardup_hi"] = aug_cte + """
SELECT vec_a, vec_b, sim_r FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    round(list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS sim_r
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
) WHERE sim_r >= 0.95
"""

    # the near-dup candidate stage, oracle-gated like ann_lsh_candidates:
    # the twin replays the collision-model (b, r) for the SAME corpus count
    # the Spark query derives, the seed-7 planes as literals, and the
    # banded sign-bucket self-join over its own aug reconstruction
    if os.path.exists(emb_path):
        import duckdb as _duckdb2
        import numpy as _np

        # the aug row count REPLAYS the planted branches' id-range filters
        # (not a constant +50): on a fixture with sparse or missing low ids
        # both engines must size the banding from the same n
        base_n, n_planted, n_decoys = _duckdb2.sql(f"""
            SELECT count(*),
                   count(*) FILTER (vec_id < {_N_PLANTED}),
                   count(*) FILTER (vec_id >= {_N_PLANTED}
                                    AND vec_id < {_N_PLANTED + _N_DECOYS})
            FROM read_parquet('{emb_path}')
        """).fetchone()
        n_aug = int(base_n) + int(n_planted) + int(n_decoys)
        nb, rpb = neardup_band_params(n_aug)
        nd_planes = _np.random.default_rng(7).standard_normal((nb * rpb, int(dim)))

        def nd_key_expr(t: int) -> str:
            terms = []
            for j in range(rpb):
                lit = "[" + ", ".join(repr(x) for x in nd_planes[t * rpb + j]) + "]"
                terms.append(f"CASE WHEN list_dot_product(emb, {lit}) > 0 THEN {2 ** j} ELSE 0 END")
            return "CAST(" + " + ".join(terms) + " AS BIGINT)"

        nd_sig = "\n  UNION ALL ".join(
            f"SELECT vec_id, {t} AS band, {nd_key_expr(t)} AS key FROM aug" for t in range(nb)
        )
        sql["embedding_neardup_cands"] = aug_cte + f""",
sig AS (
  {nd_sig}
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

    sql["asof_join"] = """
SELECT p.event_id AS purchase_id, p.user_id,
  c.event_id AS click_id, epoch_us(c.ts) AS click_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  SELECT user_id, ts, max(event_id) AS event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

    sql["range_join"] = """
SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
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
