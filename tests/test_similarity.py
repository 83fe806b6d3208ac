"""Similarity operators: exactness of the blocked-GEMM near-dup join vs a
brute-force twin, and the IVF ANN recall gate."""

import pytest
from pyspark.sql import functions as F

from arabic_ocr_spark.operators.similarity import (
    _cosine,
    _vecs,
    ann_recall,
    embedding_dup_pairs,
    ivf_ann_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _brute_force_pairs(embeddings, threshold):
    vecs = _vecs(embeddings)
    left = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    right = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        left.join(right, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(_cosine(F.col("va"), F.col("vb")), 4).alias("sim_r"))
        .filter(F.col("sim_r") >= threshold)
    )


def test_dup_pairs_match_brute_force(spark, embeddings):
    """Blocked-GEMM candidates + HOF verify == all-pairs HOF join, value for
    value (the GEMM margin must never drop a boundary pair)."""
    got = sorted(tuple(r) for r in embedding_dup_pairs(embeddings, block_rows=128).collect())
    want = sorted(tuple(r) for r in _brute_force_pairs(embeddings, 0.38).collect())
    assert len(want) > 0
    assert got == want


def test_dup_pairs_single_block_path(spark, embeddings):
    """block_rows >= n degenerates to one in-task GEMM; same answer."""
    got = sorted(tuple(r) for r in embedding_dup_pairs(embeddings, block_rows=10_000).collect())
    want = sorted(tuple(r) for r in _brute_force_pairs(embeddings, 0.38).collect())
    assert got == want


def test_ivf_topk_shape_and_determinism(spark, embeddings):
    a = ivf_ann_topk(embeddings).collect()
    b = ivf_ann_topk(embeddings).collect()
    assert len(a) == 50  # 5 queries x k=10
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ann_recall_gate(spark, embeddings):
    """The graded ANN metric: IVF recall@10 vs exact cosine_topk >= 0.8."""
    r = ann_recall(embeddings).collect()[0]
    assert r["ivf_recall"] >= 0.8
    # OR-banding history on this isotropic fixture: single-table 0.18 (r2),
    # 8 tables 0.72 (r3), the 16-table default clears the same 0.8 gate as
    # IVF (measured 0.98 at sf0.1) — gate BOTH operators now
    assert r["lsh_recall"] >= 0.8


def test_neardup_hi_finds_planted_dups_prunes_decoys(spark, embeddings):
    """High-threshold near-dup: the LSH-band prefilter must surface every
    planted duplicate (recall is deterministic for a fixed seed), the exact
    verify must reject sub-threshold decoys, and candidate volume must stay
    far below n^2/2 (the whole point vs the exact GEMM path)."""
    import __spark_entry__ as entry
    from arabic_ocr_spark.operators.similarity import (
        embedding_neardup_candidates,
        embedding_neardup_hi,
    )

    aug = entry._augmented_embeddings(spark, SF)
    n = aug.count()
    got = embedding_neardup_hi(aug).collect()
    pairs = {(r.vec_a, r.vec_b) for r in got}
    # every planted duplicate (id, id+1e6) survives candidates + verify
    assert {(i, i + 1_000_000) for i in range(40)} <= pairs
    assert all(r.sim_r >= 0.95 for r in got)
    # ... and equals the brute-force all-pairs truth, value for value
    want = sorted(tuple(r) for r in _brute_force_pairs(aug, 0.95).collect())
    assert sorted(tuple(r) for r in got) == want
    # banding prunes: orders of magnitude below all-pairs
    n_cand = embedding_neardup_candidates(aug).count()
    assert n_cand < (n * (n - 1) // 2) / 50

    # low thresholds are the exact operator's job
    with pytest.raises(ValueError, match="high-threshold"):
        embedding_neardup_hi(aug, threshold=0.5)


def test_neardup_band_params_model(spark, embeddings):
    """The (bands, rows) sizing helper: background-candidate budget holds
    empirically on the planted fixture, recall constraint keeps every
    planted duplicate, and bits grow with n (the O(n) candidate guarantee
    at scale)."""
    import __spark_entry__ as entry
    from arabic_ocr_spark.operators.similarity import (
        embedding_neardup_candidates,
        embedding_neardup_hi,
        neardup_band_params,
    )

    # more rows -> more bits per band (background pruned exponentially),
    # never fewer
    rs = [neardup_band_params(n)[1] for n in (1_000, 100_000, 10_000_000, 1_000_000_000)]
    assert rs == sorted(rs) and rs[-1] > rs[0]
    # tighter recall -> more bands at fixed r regime
    b_hi, r_hi = neardup_band_params(10_000_000, recall_target=0.999)
    b_lo, r_lo = neardup_band_params(10_000_000, recall_target=0.99)
    assert b_hi >= b_lo

    aug = entry._augmented_embeddings(spark, SF)
    n = aug.count()
    b, r = neardup_band_params(n)
    got = embedding_neardup_hi(aug, n_bands=b, rows_per_band=r).collect()
    assert {(i, i + 1_000_000) for i in range(40)} <= {(x.vec_a, x.vec_b) for x in got}
    n_cand = embedding_neardup_candidates(aug, n_bands=b, rows_per_band=r).count()
    # planted structure contributes ~O(n) true collisions; the model bounds
    # the BACKGROUND at 8/row — allow both
    assert n_cand <= 16 * n


def test_hot_bucket_cap_bounds_mass_duplicate_cluster(spark):
    """The one quadratic left in the ladder: a mass-templated cluster of m
    near-identical vectors lands in one bucket per band, and the uncapped
    self-join emits m^2/2 candidates.  With max_bucket_size the hot bucket
    contributes only its star around the anchor — O(m) candidates — and the
    verified pairs still connect every member to the anchor, so downstream
    connected-components grouping reunites the cluster."""
    from arabic_ocr_spark.operators.similarity import (
        embedding_neardup_candidates,
        embedding_neardup_hi,
    )

    m, dim, n_bg = 120, 16, 40
    base = [float(((i * 37 + 11) % 19) - 9) or 1.0 for i in range(dim)]
    rows = [
        # near-identical: tiny deterministic perturbation, pairwise cosine ~1
        (j, [base[i] * (1 + 1e-5 * j * ((i % 5) - 2)) for i in range(dim)])
        for j in range(m)
    ] + [
        # decorrelated background
        (1000 + j, [float((((i * 13 + j * 7 + 3) % 17) - 8) or 1) for i in range(dim)])
        for j in range(n_bg)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = embedding_neardup_candidates(emb, 8, 8, max_bucket_size=None).count()
    assert uncapped >= m * (m - 1) // 2  # the quadratic flood is real
    capped = embedding_neardup_candidates(emb, 8, 8, max_bucket_size=10).collect()
    assert len(capped) <= 4 * (m + n_bg)  # O(n), not O(m^2)
    touched = {r.vec_a for r in capped} | {r.vec_b for r in capped}
    assert set(range(1, m)) <= touched  # no cluster member dropped

    got = embedding_neardup_hi(emb, n_bands=8, rows_per_band=8, max_bucket_size=10).collect()
    pairs = {(r.vec_a, r.vec_b) for r in got}
    assert {(0, j) for j in range(1, m)} <= pairs  # star reunites the cluster

    # the DEFAULT path is now guarded: auto cap = ceil(8*sqrt(160)) = 102
    # < m, so the same mass cluster is star-reduced with no explicit knob
    from arabic_ocr_spark.operators.dedup import auto_bucket_cap
    from arabic_ocr_spark.operators.similarity import neardup_bucket_audit

    assert auto_bucket_cap(m + n_bg) == 102
    auto = embedding_neardup_candidates(emb, 8, 8).collect()
    assert len(auto) <= 4 * (m + n_bg)
    assert set(range(1, m)) <= {r.vec_a for r in auto} | {r.vec_b for r in auto}
    audit = neardup_bucket_audit(emb, 8, 8).collect()[0]
    assert audit.cap == 102
    assert audit.n_hot_buckets >= 1 and audit.max_bucket >= m
    assert audit.dropped_pairs_ubound > 0


def test_neardup_hi_auto_sizes_banding_from_corpus(spark, embeddings):
    """Defaulted (n_bands, rows_per_band) must come from the collision model
    for the actual corpus size and still find every planted duplicate (the
    driver query runs this exact path)."""
    import __spark_entry__ as entry
    from arabic_ocr_spark.operators.similarity import (
        embedding_neardup_hi,
        neardup_band_params,
    )

    aug = entry._augmented_embeddings(spark, SF)
    n = aug.count()
    auto = embedding_neardup_hi(aug, n_rows=n).collect()
    explicit_b, explicit_r = neardup_band_params(n)
    pinned = embedding_neardup_hi(aug, n_bands=explicit_b, rows_per_band=explicit_r).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, pinned))
    assert {(i, i + 1_000_000) for i in range(40)} <= {(r.vec_a, r.vec_b) for r in auto}


def test_ann_recall_defaults_match_explicit_suite_on_sparse_ids(spark):
    """Regression: ann_recall must size its DEFAULT ivf/lsh frames with the
    n_queries parameter (not the exact frame's distinct count) — on sparse
    vec_ids the distinct count is smaller, and building the approximate
    frames over the narrower id range penalized recall for queries the
    approximations were never asked about.  The reported n_queries column
    carries the measured distinct count."""
    from arabic_ocr_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        ivf_ann_topk,
        lsh_ann_topk,
    )

    rows = [
        (3 * j, [float((((i * 13 + j * 7 + 3) % 17) - 8) or 1) for i in range(8)])
        for j in range(40)
    ]  # ids 0,3,6,... -> only {0, 3} fall below n_queries=5
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    defaulted = ann_recall(emb, n_queries=5, k=5).collect()[0]
    explicit = ann_recall(
        emb, n_queries=5, k=5,
        exact=cosine_topk(emb, 5, 5), ivf=ivf_ann_topk(emb, 5, 5),
        lsh=lsh_ann_topk(emb, 5, 5),
    ).collect()[0]
    assert defaulted["n_queries"] == explicit["n_queries"] == 2
    assert defaulted["ivf_recall"] == explicit["ivf_recall"]
    assert defaulted["lsh_recall"] == explicit["lsh_recall"]
