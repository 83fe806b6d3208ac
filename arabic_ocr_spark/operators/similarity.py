"""Similarity search over the embeddings table (vec_id, embedding float[],
label).

- brute-force cosine top-k: the exactness baseline.  The query set is tiny
  -> broadcast; the corpus side streams map-only, then one top-k shuffle of
  k rows per query (window rank).  At 100 TB of vectors this is the classic
  "broadcast queries, scan corpus once" pattern.
- LSH-bucketed ANN: multi-table random-hyperplane signatures bucket the
  corpus; a query's candidates are the union of its buckets across tables —
  the scale path trading recall for a ~2^bits-per-table scan reduction.
  (Planes are a pure function of a fixed seed — results are run-stable.)
- high-threshold near-dup join: the same banding primitive as a candidate
  prefilter in front of an exact verifier (embedding_neardup_hi), with a
  collision-model parameter helper (neardup_band_params).

All arithmetic is double-precision with explicit rounding so the DuckDB
oracle matches value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from arabic_ocr_spark.operators.dedup import banded_pairs, bucket_audit, resolve_bucket_cap

__all__ = ["cosine_topk", "lsh_ann_topk", "lsh_ann_candidates", "ivf_ann_topk", "ann_recall",
           "embedding_dup_pairs", "embedding_neardup_candidates", "embedding_neardup_hi",
           "neardup_band_params", "neardup_bucket_audit"]


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    """The deterministic (sim_r desc, neighbor_id asc) top-k of a
    (query_id, neighbor_id, sim_r) frame, with its 1-based `rank`."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim_r").desc(), F.col("neighbor_id").asc())
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _rank_candidates(vecs: DataFrame, cand_ids: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Exact-cosine top-k over (query_id, neighbor_id) candidate ids — the
    ranking tail of the approximate top-k operators.  Candidates carry IDS
    ONLY; the vectors re-join by id for just the surviving pairs, the query
    side broadcast."""
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    nbrs = vecs.select(F.col("vec_id").alias("neighbor_id"), "v")
    sims = (
        cand_ids.join(F.broadcast(queries), "query_id")
        .join(nbrs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("q"), F.col("v")), 4).alias("sim_r"),
        )
    )
    return _top_k(sims, k)


def _verify_pairs(vecs: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact re-verification of (vec_a, vec_b) candidate pairs: the
    sequential-fold HOF cosine, so emitted values are bit-identical to any
    engine evaluating the same left-fold (the DuckDB all-pairs oracle
    matches value-for-value)."""
    va = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", F.round(_cosine(F.col("va"), F.col("vb")), 4).alias("sim_r"))
        .filter(F.col("sim_r") >= threshold)
        .select("vec_a", "vec_b", "sim_r")
    )


def cosine_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Top-k cosine neighbours for the first n_queries vectors.

    Output: (query_id, neighbor_id, sim_r, rank) with sim rounded to 4 and
    deterministic (sim desc, neighbor_id asc) ranking."""
    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    sims = (
        vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("q"), F.col("v")), 4).alias("sim_r"),
        )
    )
    return _top_k(sims, k)


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.38,
                        block_rows: int = 1024, n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a < vec_b, sim_r) with
    cosine >= threshold (default calibrated to the synthetic fixture
    embeddings, whose max pairwise cosine is ~0.48; production near-dup
    thresholds sit at 0.95+).

    Exact, in two stages:

    1. Candidate generation by BLOCKED MATRIX MULTIPLY: vectors are hashed
       into n/block_rows blocks; each of the B*(B+1)/2 block pairs is one
       task that computes its cosine sub-matrix as a single normalized
       float64 GEMM (BLAS, ~1000x the per-pair HOF expression throughput)
       and emits index pairs above `threshold - 6e-5` (margin covers both
       the round-to-4-decimals output boundary and BLAS-vs-sequential
       float summation divergence).  Shuffle cost: each block replicated B
       times, i.e. data inflates by sqrt(2 * #tasks) — the standard exact
       block-nested-loop layout.
    2. Exact re-verification: the few surviving pairs re-compute cosine with
       the sequential-fold HOF expression, so emitted values are
       bit-identical to any engine evaluating the same left-fold (the
       DuckDB oracle matches value-for-value).

    Why not LSH here: at cosine ~0.38 the per-hyperplane agreement
    probability is ~0.62, so ANY banding scheme with near-zero miss rate
    generates more candidates than all-pairs — banded LSH only prunes in
    the high-threshold regime (0.9+), where embedding_neardup_hi composes
    it as a prefilter in front of this same verify stage.
    The exact quadratic-FLOPs path is therefore run at GEMM speed, which is
    the honest cost floor for an exact low-threshold similarity join."""
    import pandas as pd

    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    # n only sizes the block grid — pass n_rows (e.g. a catalog/metadata row
    # count) to avoid the planning-time full pass; any approximate count of
    # the right magnitude yields the same task layout
    n = n_rows if n_rows is not None else vecs.count()
    num_blocks = max(1, -(-n // block_rows))
    blocked = vecs.withColumn(
        "block", F.pmod(F.xxhash64("vec_id"), F.lit(num_blocks)).cast("int")
    )
    packed = blocked.groupBy("block").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("rows")
    )
    tasks = (
        packed.select(F.col("block").alias("block_a"), F.col("rows").alias("rows_a"))
        .join(
            packed.select(F.col("block").alias("block_b"), F.col("rows").alias("rows_b")),
            F.col("block_a") <= F.col("block_b"),
        )
        .repartition(num_blocks * (num_blocks + 1) // 2, "block_a", "block_b")
    )
    cand_floor = threshold - 6e-5

    def gemm_candidates(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b = [], []
            for rows_a, rows_b, same in zip(
                pdf["rows_a"], pdf["rows_b"], pdf["block_a"] == pdf["block_b"]
            ):
                ids_a = np.asarray([r["vec_id"] for r in rows_a], dtype=np.int64)
                A = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in rows_a])
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                if same:
                    ids_b, Bm = ids_a, A
                else:
                    ids_b = np.asarray([r["vec_id"] for r in rows_b], dtype=np.int64)
                    Bm = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in rows_b])
                    Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
                G = A @ Bm.T
                ii, jj = np.nonzero(G >= cand_floor)
                ia, ib = ids_a[ii], ids_b[jj]
                keep = ia != ib  # unordered pair emitted once: (min, max)
                out_a.append(np.minimum(ia, ib)[keep])
                out_b.append(np.maximum(ia, ib)[keep])
            a = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
            b = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
            if len(a):  # same-block pairs surface twice in the sym. matrix
                uniq = np.unique(np.stack([a, b], axis=1), axis=0)
                a, b = uniq[:, 0], uniq[:, 1]
            yield pd.DataFrame({"vec_a": a, "vec_b": b})

    cand = tasks.mapInPandas(gemm_candidates, "vec_a bigint, vec_b bigint")
    return _verify_pairs(vecs, cand, threshold)


def _band_buckets(vecs: DataFrame, n_bands: int, rows_per_band: int, seed: int) -> DataFrame:
    """(vec_id, band, key): multi-band random-hyperplane signatures, the
    SimHash/banding construction (Charikar 2002; banding shape per
    operators/dedup.py lsh_candidate_pairs).  Each band's key packs
    `rows_per_band` sign bits of Gaussian projections into one int64.

    MAP-ONLY: one Arrow batch -> one (n x dim) @ (dim x bits) GEMM -> n_bands
    rows per vector.  The plane matrix is a pure function of
    (seed, n_bands * rows_per_band, dim), regenerated identically inside
    every task — nothing is broadcast, results are run-stable."""
    import numpy as np
    import pandas as pd

    bits_total = n_bands * rows_per_band
    if rows_per_band > 62:
        raise ValueError("rows_per_band must fit an int64 key")

    def sig(batches):
        planes: dict[int, np.ndarray] = {}
        weights = 1 << np.arange(rows_per_band, dtype=np.int64)
        bands = np.arange(n_bands, dtype=np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            d = X.shape[1]
            P = planes.get(d)
            if P is None:
                P = np.random.default_rng(seed).standard_normal((bits_total, d))
                planes[d] = P
            bits = (X @ P.T) > 0  # (n, bits_total); sign of each projection
            keys = bits.reshape(len(X), n_bands, rows_per_band) @ weights
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_bands),
                "band": np.tile(bands, len(X)),
                "key": keys.reshape(-1),
            })

    return vecs.mapInPandas(sig, "vec_id bigint, band int, key bigint")


def embedding_neardup_candidates(embeddings: DataFrame, n_bands: int = 16,
                                 rows_per_band: int = 12, seed: int = 7,
                                 max_bucket_size: int | str | None = "auto",
                                 n_rows: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs (vec_a < vec_b) sharing at least one
    hyperplane-LSH band — the HIGH-threshold prefilter embedding_dup_pairs's
    docstring defers to.

    Probability calculus (p = 1 - theta/pi per hyperplane bit): a pair at
    cosine 0.95 (p ~ 0.90) collides in a 12-bit band w.p. ~0.28, so all 16
    bands miss it w.p. (1-0.28)^16 ~ 0.5%; at cosine 0.98+ the miss rate is
    below 1e-4.  A background pair at cosine ~0 (p = 0.5) collides
    anywhere w.p. 16 * 2^-12 ~ 0.4% — candidate volume stays O(n) on
    near-orthogonal corpora instead of the exact path's n^2/2 GEMM entries.
    Both rates are DETERMINISTIC for a fixed (seed, corpus): the planes are
    a pure function of the seed, so recall is a testable constant, not a
    random variable.

    max_bucket_size — the hot-bucket cap (see dedup.banded_pairs for the
    guard and its recall caveat; neardup_bucket_audit reports hot-bucket
    count and a dropped-pair upper bound at the same parameters).  The
    default "auto" derives it as auto_bucket_cap(n) = ceil(8*sqrt(n)) (pass
    n_rows to skip the plan-time count); at the gated fixture scales
    natural buckets sit far below it (max 9 vs cap 189+), so the default
    path keeps exact banded semantics; None disables the guard entirely.

    Scale shape: signature pass is map-only (one GEMM per Arrow batch); the
    only shuffles are the self-join on the short (band, key) buckets and the
    final distinct — identical to the MinHash-LSH text ladder, which is the
    point: at 0.95+ this replaces a quadratic GEMM with a bucket join."""
    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    return banded_pairs(_band_buckets(vecs, n_bands, rows_per_band, seed), "vec_id",
                        resolve_bucket_cap(max_bucket_size, vecs, n_rows))


def neardup_bucket_audit(embeddings: DataFrame, n_bands: int = 16,
                         rows_per_band: int = 12, seed: int = 7,
                         max_bucket_size: int | str | None = "auto",
                         n_rows: int | None = None) -> DataFrame:
    """The hot-bucket audit for embedding_neardup_candidates at the same
    parameters: one row (cap, n_buckets, n_hot_buckets, max_bucket,
    dropped_pairs_ubound).  Run it before enabling a cap on a new corpus —
    and alongside the guarded job in production — so a binding cap is a
    measured, inspected event rather than silent pair loss."""
    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    return bucket_audit(_band_buckets(vecs, n_bands, rows_per_band, seed),
                        resolve_bucket_cap(max_bucket_size, vecs, n_rows), "vec_id")


def neardup_band_params(n_rows: int, threshold: float = 0.95,
                        recall_target: float = 0.999,
                        candidates_per_row: float = 8.0) -> tuple[int, int]:
    """Size (n_bands, rows_per_band) for embedding_neardup_hi from the
    Charikar collision model, so candidate volume stays O(n) as the corpus
    grows (the fixed default (16, 12) keeps a constant ~0.5% FRACTION of
    all pairs — fine at fixture scale, quadratic growth in absolute count).

    Model: a hyperplane bit agrees on a pair at cosine s w.p.
    p = 1 - acos(s)/pi.
    - true pairs at `threshold`: miss probability (1 - p^r)^b must be
      <= 1 - recall_target  ->  b = ceil(ln(1-recall) / ln(1-p^r));
    - background pairs (cosine ~0, p = 1/2): expected candidates
      ~ n^2/2 * b * 2^-r, bounded to candidates_per_row * n.
    Scans r upward and returns the first (b, r) meeting both — more bits
    per band cut the background exponentially while the recall constraint
    grows b only polynomially.  At n = 10^9 / threshold 0.95 / recall
    0.999 this lands near (254, 34): ~8.6k signature bits ~ 1 KB/vector,
    the honest price of three-nines recall at p ~ 0.9; recall_target 0.99
    roughly thirds the bands.  All outputs stay deterministic for a fixed
    seed."""
    import math

    p = 1 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    b = 1
    for r in range(4, 62):
        pr = p ** r
        if pr >= 1.0:
            b = 1
        else:
            b = max(1, math.ceil(math.log(max(1e-15, 1.0 - recall_target)) / math.log(1.0 - pr)))
        expected_bg = (n_rows * max(n_rows - 1, 1) / 2.0) * b * 2.0 ** (-r)
        if expected_bg <= candidates_per_row * n_rows:
            return b, r
    return b, 61


def embedding_neardup_hi(embeddings: DataFrame, threshold: float = 0.95,
                         n_bands: int | None = None, rows_per_band: int | None = None,
                         seed: int = 7, n_rows: int | None = None,
                         max_bucket_size: int | str | None = "auto") -> DataFrame:
    """High-threshold embedding near-duplicate pairs: (vec_a < vec_b, sim_r)
    with cosine >= threshold (>= 0.9 regime), as banded-LSH candidates +
    exact HOF-cosine verification.

    This is the production near-dup operator: at thresholds where banding
    prunes (0.9+), candidate volume is far below n^2/2 and the whole job is
    scan + bucket-join shaped.  (n_bands, rows_per_band) default to the
    neardup_band_params collision-model sizing for the ACTUAL corpus row
    count (pass n_rows — a catalog/metadata count — to skip the plan-time
    count; any approximation of the right magnitude yields the same
    params), so the background candidate rate stays O(n) at every corpus
    size instead of a fixed fraction of n^2; pass both explicitly to pin a
    banding.  max_bucket_size forwards the hot-bucket star guard, ON by
    default at the auto cap ceil(8*sqrt(n)) — non-binding on natural
    buckets, capping only mass-templated degenerate clusters (see
    embedding_neardup_candidates for the chain-cluster recall caveat when
    it binds, and neardup_bucket_audit for the audit).  For LOW thresholds
    (< ~0.6) use embedding_dup_pairs — there banding cannot prune and the
    exact blocked GEMM is the honest cost floor (see its docstring).  The
    verify stage recomputes cosine with the sequential-fold HOF expression,
    so emitted values are bit-identical to the DuckDB all-pairs oracle."""
    if threshold < 0.9:
        raise ValueError(
            f"embedding_neardup_hi is the high-threshold (>=0.9) operator; "
            f"at threshold={threshold} banding does not prune — use "
            f"embedding_dup_pairs (exact blocked GEMM) instead"
        )
    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    # one count serves both auto-derivations (banding AND the bucket cap)
    n = n_rows
    if n is None and (n_bands is None or rows_per_band is None or max_bucket_size == "auto"):
        n = vecs.count()
    if n_bands is None or rows_per_band is None:
        auto_b, auto_r = neardup_band_params(n, threshold)
        n_bands = auto_b if n_bands is None else n_bands
        rows_per_band = auto_r if rows_per_band is None else rows_per_band
    max_bucket_size = resolve_bucket_cap(max_bucket_size, vecs, n)
    cand = embedding_neardup_candidates(embeddings, n_bands, rows_per_band, seed,
                                        max_bucket_size)
    return _verify_pairs(vecs, cand, threshold)


def _train_ivf_centroids(vecs: DataFrame, n_centroids: int, iters: int):
    """Distributed Lloyd iterations with cosine assignment over unit
    vectors.  Returns the centroid matrix as a plain nested list.

    Scale shape: the corpus is only ever scanned map-only per iteration —
    the assignment UDF partially aggregates per Arrow batch (emitting
    C x dim (cell, pos, sum, cnt) rows), so the per-iteration shuffle
    carries O(C * dim * n_batches) tiny rows, never vectors.  Init is the
    C corpus vectors with the smallest xxhash64(vec_id): deterministic,
    seed-free, and a single top-C collect of C*dim doubles."""
    import numpy as np
    import pandas as pd

    init_rows = (
        vecs.withColumn("h", F.xxhash64("vec_id")).orderBy("h").limit(n_centroids).collect()
    )
    cent = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in init_rows])
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    for _ in range(iters):
        frozen = cent  # capture this iteration's centroids in the closure

        def partial_sums(batches, cent_m=frozen):
            for pdf in batches:
                X = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
                X = X / np.linalg.norm(X, axis=1, keepdims=True)
                assign = np.argmax(X @ cent_m.T, axis=1)
                cells, pos, sums, cnts = [], [], [], []
                for c in np.unique(assign):
                    members = X[assign == c]
                    s = members.sum(axis=0)
                    d = len(s)
                    cells.extend([int(c)] * d)
                    pos.extend(range(d))
                    sums.extend(s.tolist())
                    cnts.extend([len(members)] * d)
                yield pd.DataFrame({"cell": cells, "pos": pos, "s": sums, "cnt": cnts})

        agg = (
            vecs.select("v")
            .mapInPandas(partial_sums, "cell int, pos int, s double, cnt bigint")
            .groupBy("cell", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        new_cent = cent.copy()
        by_cell: dict[int, list] = {}
        for r in agg:
            by_cell.setdefault(r["cell"], []).append(r)
        for c, rows in by_cell.items():
            mean = np.zeros(cent.shape[1])
            for r in rows:
                mean[r["pos"]] = r["s"] / r["cnt"]
            nrm = np.linalg.norm(mean)
            if nrm > 0:
                new_cent[c] = mean / nrm
        cent = new_cent
    return cent.tolist()


def _nearest_cells(vecs: DataFrame, cent: list, n: int, id_col: str, name: str) -> DataFrame:
    """(id_col, cell): each vector's `n` nearest centroids by cosine, the
    top-n of one (batch x C) GEMM per Arrow batch (stable order on ties) —
    the IVF index when n = n_assign, the query probes when n = nprobe.
    `name` labels the MapInPandas node in query plans."""
    import numpy as np
    import pandas as pd

    def cells(batches, cent_list=cent):
        cent_m = np.asarray(cent_list)
        for pdf in batches:
            X = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            top = np.argsort(-(Xn @ cent_m.T), kind="stable", axis=1)[:, :n]
            yield pd.DataFrame({
                id_col: np.repeat(pdf["vec_id"].to_numpy(), n),
                "cell": top.reshape(-1),
            })

    cells.__name__ = name
    return vecs.mapInPandas(cells, f"{id_col} bigint, cell int")


def ivf_ann_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
                 n_centroids: int = 32, n_assign: int = 3, nprobe: int = 8,
                 kmeans_iters: int = 5) -> DataFrame:
    """IVF approximate top-k: a coarse k-means quantizer buckets the corpus
    (each vector indexed under its n_assign nearest centroids); a query
    probes its nprobe nearest cells and ranks candidates by exact cosine.
    Same output shape as cosine_topk.

    Data-adaptive where hyperplane LSH is not: on weakly-clustered/isotropic
    embeddings random hyperplanes separate true neighbours with probability
    ~theta/pi per bit, while learned centroids track the actual density.
    Multi-assignment (n_assign > 1) trades index size for recall — the
    standard IVF recall knob.  Defaults are calibrated on the synthetic
    fixture to recall@10 >= 0.8 vs cosine_topk (measured by ann_recall);
    real embedding corpora with genuine cluster structure prune far harder
    at the same settings.

    Scale: centroid training is map-only scans + tiny shuffles
    (see _train_ivf_centroids); the index pass is one map-only GEMM over
    the corpus; candidate generation joins the C-cell index against the
    broadcast query probes; only candidates (a cell-bounded fraction of the
    corpus) reach the exact-cosine ranking."""
    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cent = _train_ivf_centroids(vecs, n_centroids, kmeans_iters)

    # the index and probe tables carry IDS ONLY: shipping the vectors
    # through the cell join (duplicated n_assign x / nprobe x) would shuffle
    # ~3x the corpus vector bytes at scale; _rank_candidates re-joins
    # vectors by id for just the surviving candidates
    indexed = _nearest_cells(vecs, cent, n_assign, "vec_id", "index_cells")
    probes = _nearest_cells(vecs.filter(F.col("vec_id") < n_queries), cent, nprobe, "query_id",
                            "probe_cells")
    cand_ids = (
        indexed.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])  # multi-assign x multi-probe overlap
    )
    return _rank_candidates(vecs, cand_ids, n_queries, k)


def ann_recall(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
               exact: DataFrame | None = None, ivf: DataFrame | None = None,
               lsh: DataFrame | None = None) -> DataFrame:
    """Recall@k of the two ANN operators vs the exact cosine_topk baseline,
    as one row (n_queries, ivf_recall, lsh_recall).  The measurement the
    approximate operators are graded by.

    exact/ivf/lsh optionally supply already-materialized top-k results
    (cosine_topk / ivf_ann_topk / lsh_ann_topk output shape): a pipeline
    that just RAN the ANN queries should measure the results it has, not
    pay the whole suite a second time (the driver's _ann_chain cache does
    exactly that).  The reported n_queries is derived from the exact
    frame's ACTUAL distinct query set — a caller handing in frames built
    with different parameters gets a correctly-labeled measurement, not
    the parameter echoed back."""
    # materialize the exact baseline once; both recall_of joins reuse it
    # instead of recomputing the full exact top-k per measurement
    if exact is None:
        exact = cosine_topk(embeddings, n_queries, k)
    exact = exact.select("query_id", "neighbor_id").localCheckpoint()
    # denominator = the baseline's ACTUAL row count: on small corpora (or
    # with ties filtered) the exact top-k yields fewer than n_queries*k
    # neighbours, and a fixed denominator would understate even a perfect
    # approximate result
    n_exact = exact.count()
    # REPORTED query count comes from the exact frame; the n_queries
    # PARAMETER stays intact below because it still sizes the default
    # ivf/lsh frames — overwriting it would build approximate frames over a
    # smaller id range than the baseline on corpora with sparse vec_ids and
    # wrongly deflate recall
    n_queries_measured = exact.select("query_id").distinct().count()

    def recall_of(approx: DataFrame):
        if n_exact == 0:
            return 1.0
        return (exact.join(approx.select("query_id", "neighbor_id"),
                           ["query_id", "neighbor_id"]).count()) / n_exact

    if ivf is None:
        ivf = ivf_ann_topk(embeddings, n_queries, k)
    if lsh is None:
        lsh = lsh_ann_topk(embeddings, n_queries, k)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(n_queries_measured, float(recall_of(ivf)), float(recall_of(lsh)))],
        "n_queries int, ivf_recall double, lsh_recall double",
    )


def lsh_ann_candidates(embeddings: DataFrame, n_queries: int = 5,
                       n_planes: int = 4, n_tables: int = 16,
                       seed: int = 11) -> DataFrame:
    """(query_id, neighbor_id): the candidate-generation stage of
    lsh_ann_topk — corpus vectors sharing the query's (band, key) bucket in
    ANY of the `n_tables` signature tables (OR-banding), deduplicated.

    DETERMINISTIC for a fixed (seed, corpus): the Gaussian planes are a
    pure function of the seed and bucketing is sign-of-projection, so this
    stage is DuckDB-oracle-checked — the oracle replays the identical
    float64 planes as SQL literals and the identical sign rule over the
    same parquet floats (see __spark_entry__._sql_band_sig).
    Only the top-k RANKING built on these candidates is approximate and
    graded by measured recall instead."""
    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    # table t = band t of the shared banding primitive (seeded planes)
    buckets = _band_buckets(vecs, n_tables, n_planes, seed=seed)
    qbuckets = (
        buckets.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), "band", "key")
    )
    return (
        buckets.join(F.broadcast(qbuckets), ["band", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])  # OR over tables
    )


def lsh_ann_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
                 n_planes: int = 4, n_tables: int = 16) -> DataFrame:
    """Approximate top-k via MULTI-TABLE hyperplane LSH: `n_tables`
    independent `n_planes`-bit signature tables; a corpus vector is a
    candidate for a query if it shares the query's bucket in ANY table
    (OR-banding), then exact cosine ranks the candidates.  Same output shape
    as cosine_topk (rows-only check: the bucketing is seed-stable — the
    Gaussian planes are a pure function of the seed — and the approximation
    is measured by ann_recall).

    The single-table variant this replaces measured recall@10 = 0.18 on the
    isotropic fixture: one 4-bit bucket keeps only ~(1 - theta/pi)^4 of true
    neighbours.  OR-banding is the standard recall repair — miss probability
    drops to (1 - p^b)^T: 8 tables measured 0.72, the 16-table default 0.98
    (>= the repo's 0.8 ANN gate) — while the scan shape is unchanged:
    signatures come from the same map-only GEMM primitive the near-dup
    operator uses (_band_buckets: one Arrow batch -> one matrix multiply,
    planes a pure seeded function — results stay run-stable), and
    candidates from ONE pass of the corpus signature rows against the
    broadcast query signature set (the OR over tables is the (band, key)
    equi-join).

    Honest pruning note: on THIS fixture true top-10 neighbours sit at
    cosine ~0.4 (p ~ 0.63/bit), so 0.98 recall costs a candidate fraction
    of ~1-(1-2^-4)^16 ~ 0.64 of the corpus — weak pruning is inherent to
    isotropic data, not to the operator (on clustered real corpora p for
    true neighbours is far higher and the same banding prunes hard).  IVF
    (ivf_ann_topk, recall ~0.9 at ~25% probe fraction) remains the
    data-adaptive default; this is the model-free alternative that needs
    no training pass."""
    vecs = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cand_ids = lsh_ann_candidates(embeddings, n_queries, n_planes, n_tables)
    return _rank_candidates(vecs, cand_ids, n_queries, k)
