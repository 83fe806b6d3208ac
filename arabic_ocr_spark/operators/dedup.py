"""Deduplication operators: exact, MinHash+LSH (with exact-Jaccard verify),
and SimHash — the standard near-dup ladder for web-scale corpus curation.

Scale notes (100 TB):
- exact dedup is one hash-aggregate: map-side partial agg + single shuffle
  on a 32-char key; skew-free because md5 uniformly distributes keys;
- MinHash signatures are computed WITHOUT exploding shingles to rows
  (higher-order array functions inside the row) — the only shuffles are
  the band-bucket self-join (on short band keys) and the final distinct;
- candidate pairs are verified with exact Jaccard only within LSH buckets,
  the standard bound on pair explosion;
- hash family: min over md5(shingle || ':' || seed) as STRINGS — portable
  bit-for-bit to any engine with md5 (the DuckDB oracle reproduces it).
"""

from __future__ import annotations

import functools
import math
import operator

from pyspark.sql import DataFrame, functions as F

__all__ = ["exact_dup_groups", "minhash_signatures", "lsh_candidate_pairs",
           "jaccard_verified_pairs", "simhash", "simhash_expr",
           "min_label_components", "dedup_groups", "auto_bucket_cap",
           "resolve_bucket_cap", "bucket_audit", "banded_pairs", "lsh_bucket_audit"]

# minhashes per LSH band of the text ladder (read by its DuckDB twin)
BAND_SIZE = 2
# bits of the batch simhash operator (read by its DuckDB twin)
SIMHASH_BITS = 16


def auto_bucket_cap(n_rows: int) -> int:
    """Default hot-bucket cap: ceil(c * sqrt(n)) with c = 8, floor 64.

    Why sqrt(n): a band bucket of size s contributes s*(s-1)/2 candidate
    pairs, so capping s at c*sqrt(n) bounds ANY single bucket's contribution
    to <= c^2*n/2 — candidate volume stays O(n) even if a constant number of
    buckets sit at the cap, which is the structural guarantee the guard
    exists for.  Natural (non-degenerate) near-dup buckets grow with cluster
    size, not corpus size, so at the gated fixture scales the cap never
    binds (sf0.01 max text bucket 12 vs cap 179; sf0.1 max 90 vs cap 566)
    and the banded semantics stay exactly oracle-checked; only a
    mass-templated degenerate cluster crosses it."""
    return max(64, math.ceil(8.0 * math.sqrt(max(n_rows, 1))))


def resolve_bucket_cap(max_bucket_size: int | str | None,
                       source: DataFrame | None = None,
                       n_rows: int | None = None) -> int | None:
    """Resolve a max_bucket_size argument to a concrete cap (or None for
    unguarded): the ONE place the "auto" rule lives, shared by both band
    operators and their audits so they can never disagree on the cap.
    Only the exact string "auto" is accepted — any other string raises
    instead of silently flowing into a Spark string-vs-int comparison
    (which would cast to NULL and star-reduce EVERY bucket)."""
    if max_bucket_size is None:
        return None
    if isinstance(max_bucket_size, str):
        if max_bucket_size != "auto":
            raise ValueError(
                f"max_bucket_size must be an int, None, or the string 'auto'; "
                f"got {max_bucket_size!r}"
            )
        if n_rows is None and source is None:
            raise ValueError("max_bucket_size='auto' needs n_rows or a source to count")
        return auto_bucket_cap(n_rows if n_rows is not None else source.count())
    return int(max_bucket_size)


def bucket_audit(buckets: DataFrame, cap: int | None, id_col: str) -> DataFrame:
    """One-row audit of the hot-bucket guard at `cap` over an
    (id, band, key) bucket table: bucket count, buckets above the cap, the
    largest bucket, and an UPPER BOUND on pairs the star guard drops
    (s*(s-1)/2 - (s-1) per hot bucket — an upper bound because a dropped
    pair re-surfaces through any other band bucket below the cap where the
    two ids still collide).  An unguarded audit (cap None) reports a NULL
    cap and no hot buckets."""
    key_cols = [c for c in buckets.columns if c != id_col]
    sizes = buckets.groupBy(*key_cols).agg(F.count("*").alias("bsz"))
    hot = F.col("bsz") > F.lit(cap)
    dropped = (F.col("bsz") * (F.col("bsz") - 1)) / 2 - (F.col("bsz") - 1)
    return sizes.agg(
        F.lit(cap).cast("long").alias("cap"),
        F.count("*").alias("n_buckets"),
        F.coalesce(F.sum(hot.cast("long")), F.lit(0)).cast("long").alias("n_hot_buckets"),
        F.coalesce(F.max("bsz"), F.lit(0)).cast("long").alias("max_bucket"),
        F.coalesce(F.sum(F.when(hot, dropped)), F.lit(0.0)).cast("long").alias("dropped_pairs_ubound"),
    )


def banded_pairs(buckets: DataFrame, id_col: str, cap: int | None) -> DataFrame:
    """Distinct pairs (x_a < x_b) of ids sharing at least one band bucket of
    an (id, band, key) bucket table — the band self-join behind both LSH
    candidate operators (lsh_candidate_pairs: doc_id -> doc_a/doc_b;
    embedding_neardup_candidates: vec_id -> vec_a/vec_b).

    cap — the HOT-BUCKET guard: a degenerate band bucket (a mass-templated
    near-identical cluster of m members, which survives exact dedup whenever
    any byte differs) otherwise makes the self-join quadratic in m.  With a
    cap, buckets larger than it contribute only their STAR around the
    bucket's minimum id — O(m) pairs that still connect every member to the
    anchor for downstream connected-components grouping.  The filter is
    applied to the join's LEFT input, so the quadratic intermediate never
    materializes.  None disables the guard; resolve_bucket_cap turns the
    operators' max_bucket_size argument into `cap`.

    RECALL CAVEAT when the cap binds: a hot bucket only guarantees its
    members share ONE band (moderate similarity), NOT that they are
    near-identical to the anchor — a chain-shaped cluster (a~b~c with
    anchor!~c above the threshold) can lose the b-c pair that the uncapped
    path plus verify+CC would have kept, unless b and c also co-occur in
    some below-cap bucket.  Audit bucket composition (bucket_audit, via
    lsh_bucket_audit / neardup_bucket_audit) before relying on a cap in
    recall-sensitive paths."""
    key_cols = [c for c in buckets.columns if c != id_col]
    if cap is not None:
        sizes = buckets.groupBy(*key_cols).agg(
            F.count("*").alias("bsz"), F.min(id_col).alias("anchor")
        )
        left = (
            buckets.join(sizes, key_cols)
            .filter((F.col("bsz") <= cap) | (F.col(id_col) == F.col("anchor")))
            .select(*buckets.columns)
            .alias("l")
        )
    else:
        left = buckets.alias("l")
    right = buckets.alias("r")
    on = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in key_cols]
    on.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    prefix = id_col.removesuffix("_id")
    return (
        left.join(right, functools.reduce(operator.and_, on))
        .select(F.col(f"l.{id_col}").alias(f"{prefix}_a"), F.col(f"r.{id_col}").alias(f"{prefix}_b"))
        .distinct()
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Group documents by content hash: (text_hash, n_copies, keep_doc_id).
    Canonical keeper = smallest doc_id."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
    )


def _shingles(k: int):
    """Distinct character k-gram shingle array of `text` (docs shorter than
    k yield the whole text as the single shingle)."""
    return F.when(
        F.length("text") >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - (k - 1)),
                lambda i: F.col("text").substr(i, F.lit(k)),
            )
        ),
    ).otherwise(F.array(F.col("text")))


def minhash_signatures(docs: DataFrame, k: int = 7, num_hashes: int = 8) -> DataFrame:
    """(doc_id, mh_0..mh_{H-1}): per hash seed, the minimum md5(shingle:seed)
    string over the shingle set.

    MAP-ONLY: each signature column is array_min over a per-seed md5
    transform of the shingle array — no explode, no shuffle, nothing
    crosses the wire but one row per document.  Although the shingle
    expression appears in every hash column after projection collapsing,
    whole-stage codegen's runtime subexpression elimination evaluates it
    once per row (measured ~7x faster than the explode -> groupBy(doc_id)
    partial-aggregate formulation this replaces, which shuffled a row per
    document per mapper).  The shuffle-free shape is also the one that
    survives 100 TB: signature computation scales with scan bandwidth."""
    aggs = [
        F.array_min(
            F.transform(F.col("shingles"), lambda s: F.md5(F.concat(s, F.lit(f":{i}"))))
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return docs.select("doc_id", _shingles(k).alias("shingles")).select("doc_id", *aggs)


def _text_band_buckets(docs: DataFrame, k: int, num_hashes: int) -> DataFrame:
    """(doc_id, band, band_key): the minhash band-bucket table behind
    lsh_candidate_pairs and lsh_bucket_audit.

    The band key is FOLDED TO AN INT64 before anything shuffles: the
    concatenated per-band minhash strings (BAND_SIZE x 32 hex chars) are
    md5'd and the first 15 hex chars cast to a 60-bit long — ~8x fewer
    band-join shuffle bytes than shipping the concatenated strings.  The
    fold is the repo's portable-collision pattern (same as the jaccard
    shingle ints): the DuckDB oracle applies the IDENTICAL md5+substring
    mapping, so even a fold collision creates the same spurious candidate
    on both engines — value parity is exact, not just overwhelmingly
    probable."""
    # materialize the (tiny: doc_id + H hashes) signature table once: the
    # band-key expressions reference every mh column and the posexplode
    # Generate blocks codegen subexpression reuse, so an unmaterialized
    # signature chain would re-evaluate the whole shingle pipeline per
    # band reference on both sides of the self-join (measured 2x the query)
    sigs = minhash_signatures(docs, k, num_hashes).localCheckpoint()
    n_bands = num_hashes // BAND_SIZE
    # one posexplode instead of a union of per-band selects: the signature
    # chain (shingling + H md5-min scans) is computed ONCE per doc, not once
    # per band branch
    band_keys = F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", *[F.col(f"mh_{b * BAND_SIZE + j}") for j in range(BAND_SIZE)])),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.posexplode(band_keys).alias("band", "band_key"))


def lsh_candidate_pairs(docs: DataFrame, k: int = 7, num_hashes: int = 8,
                        max_bucket_size: int | str | None = "auto",
                        n_rows: int | None = None) -> DataFrame:
    """Near-duplicate candidate pairs (doc_a < doc_b) sharing at least one
    LSH band.  Bands of BAND_SIZE consecutive minhashes; the self-join is
    on the int64-folded band key (see _text_band_buckets).

    max_bucket_size — the hot-bucket cap (see banded_pairs for the guard
    and its recall caveat).  The default "auto" derives it as
    auto_bucket_cap(n) = ceil(8*sqrt(n)) (pass n_rows — a catalog/metadata
    count — to skip the plan-time count), which never binds on natural
    near-dup buckets at the gated scales, so the default path stays exactly
    oracle-checked; None disables the guard entirely."""
    return banded_pairs(_text_band_buckets(docs, k, num_hashes), "doc_id",
                        resolve_bucket_cap(max_bucket_size, docs, n_rows))


def lsh_bucket_audit(docs: DataFrame, k: int = 7, num_hashes: int = 8,
                     max_bucket_size: int | str | None = "auto",
                     n_rows: int | None = None) -> DataFrame:
    """The hot-bucket audit for lsh_candidate_pairs at the same parameters:
    one row (cap, n_buckets, n_hot_buckets, max_bucket,
    dropped_pairs_ubound).  Run it before enabling a cap on a new corpus —
    and alongside the guarded job in production — so a binding cap is a
    measured, inspected event rather than silent pair loss."""
    return bucket_audit(_text_band_buckets(docs, k, num_hashes),
                        resolve_bucket_cap(max_bucket_size, docs, n_rows), "doc_id")


def jaccard_verified_pairs(docs: DataFrame, k: int = 7, num_hashes: int = 8,
                           threshold: float = 0.6,
                           candidates: DataFrame | None = None,
                           n_rows: int | None = None) -> DataFrame:
    """Exact shingle-set Jaccard on the LSH candidates; keeps pairs with
    J >= threshold.  (doc_a, doc_b, jaccard rounded to 4).

    Join strategy is the planner's: the per-doc size table and the
    semi-join-reduced shingle arrays are the small sides of the candidate
    joins, so under spark.sql.autoBroadcastJoinThreshold they broadcast
    (no string arrays shuffle), and on a corpus beyond it the same plan
    falls back to sort-merge joins with the same pairs
    (tests/test_dedup_cc.py pins both).

    candidates: optionally a precomputed/persisted lsh_candidate_pairs
    result (doc_a, doc_b) — the dedup ladder is a chain (candidates ->
    verified pairs -> components -> curation) and a pipeline that consumes
    several stages should materialize each once, not re-derive the prefix
    per consumer.

    NB: sizes are captured from a checkpointed first scan of `docs` but the
    shingle arrays from a live second scan (so only O(corpus) size rows are
    ever pinned in executor storage) — this assumes `docs` re-evaluates
    stably (a parquet/Iceberg snapshot, the normal case).  Over a
    non-deterministic upstream, checkpoint `docs` itself first."""
    cands = candidates if candidates is not None else lsh_candidate_pairs(
        docs, k, num_hashes, n_rows=n_rows
    )
    # shingles mapped to 60-bit ints (first 15 hex chars of md5): integer
    # set intersection is ~30% faster than string intersection, and because
    # the DuckDB oracle applies the IDENTICAL mapping, even a hash
    # collision changes both engines' counts the same way — value parity
    # is preserved exactly, not just with high probability
    ints = F.array_distinct(
        F.transform(_shingles(k), lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    )
    # only the (doc_id, n_sh) SIZE table is materialized corpus-wide: at
    # 100 TB checkpointing the full shingle-int arrays would pin
    # O(corpus x k) bytes of executor storage (and localCheckpoint is
    # non-resilient to executor loss); the wide arrays are instead
    # re-derived only for the doc_ids that survive the size prefilter,
    # via a semi-join-reduced second scan
    sizes = docs.select("doc_id", F.size(ints).alias("n_sh")).localCheckpoint()
    # size-bound prefilter (AllPairs): J(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    # so pairs whose set sizes are too disproportionate cannot reach the
    # threshold.  Sizes attach first so the (much wider) shingle arrays are
    # only ever joined to the surviving pairs.  The 6e-5 margin covers the
    # round-to-4-decimals output boundary: a pair with raw J just below the
    # threshold still rounds up to it and must not be pruned (the oracle
    # has no prefilter).
    filtered = (
        cands.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .filter(F.least("na", "nb") >= (threshold - 6e-5) * F.greatest("na", "nb"))
    ).localCheckpoint()  # tiny surviving pair list; feeds the id-union + both array joins
    cand_ids = (
        filtered.select(F.col("doc_a").alias("doc_id"))
        .union(filtered.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    arrays = docs.join(cand_ids, "doc_id", "left_semi").select("doc_id", ints.alias("shingles"))
    withsets = (
        filtered.join(arrays.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(arrays.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
    )
    # shingle arrays are distinct, so |A u B| = |A| + |B| - |A n B|: one
    # intersection instead of intersect + union (and the exact formula the
    # DuckDB oracle spells out)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    j = withsets.select(
        "doc_a",
        "doc_b",
        F.round(inter.cast("double") / (F.col("na") + F.col("nb") - inter), 4).alias("jaccard"),
    )
    return j.filter(F.col("jaccard") >= threshold)


def min_label_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over an undirected pair graph (doc_a, doc_b):
    returns (doc_a, rep) with rep = the component's minimum node id, for
    every node appearing in `pairs`.

    Distributed CC as minimum-label propagation WITH POINTER JUMPING: each
    round a node takes the min of its neighbours' labels (one hop) and then
    its label's own label (rep <- rep(rep), halving pointer chains), so
    convergence is O(log diameter) rounds rather than O(diameter) — a
    100-node duplicate chain converges in ~7 rounds, not 100.  Each round
    shuffles the edge and label tables only, never the corpus, and
    localCheckpoint cuts the growing lineage.  Raises if max_iters rounds
    did not reach the fixpoint — silently returning partial labels would
    corrupt downstream keep/drop decisions."""
    # checkpoint the PAIR LIST first: the upstream subtree (LSH + verify for
    # dedup_groups) is the expensive part, and the symmetrizing union below
    # would otherwise evaluate it once per branch
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
    edges = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()  # the loop re-reads edges every round

    labels = edges.groupBy("doc_a").agg(F.min("doc_b").alias("rep")).select(
        "doc_a", F.least("doc_a", "rep").alias("rep")
    )
    changed = -1
    for _ in range(max_iters):
        # hop: rep <- min(rep, min over neighbours' rep); the round carries
        # the incoming label along as old_rep so convergence is a filter
        # over the checkpointed result, not an extra join+job per round
        neigh = (
            edges.join(labels.withColumnRenamed("doc_a", "doc_b").withColumnRenamed("rep", "nrep"), "doc_b")
            .groupBy("doc_a")
            .agg(F.min("nrep").alias("min_nrep"))
        )
        stepped = (
            labels.join(neigh, "doc_a", "left")
            .select(
                "doc_a",
                F.col("rep").alias("old_rep"),
                F.least("rep", F.coalesce("min_nrep", "rep")).alias("rep"),
            )
        )
        # jump: rep <- min(rep, rep(rep)) — pointer doubling
        parents = stepped.select(F.col("doc_a").alias("rep"), F.col("rep").alias("grand"))
        new_labels = (
            stepped.join(parents, "rep", "left")
            .select("doc_a", "old_rep", F.least("rep", F.coalesce("grand", "rep")).alias("rep"))
        ).localCheckpoint()
        changed = new_labels.filter(F.col("rep") != F.col("old_rep")).count()
        labels = new_labels.select("doc_a", "rep")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"min_label_components did not converge within {max_iters} rounds "
            f"({changed} labels still moving); raise max_iters"
        )
    return labels


def dedup_groups(docs: DataFrame, pairs: DataFrame | None = None,
                 n_rows: int | None = None) -> DataFrame:
    """Near-duplicate GROUPS: connected components over the Jaccard-verified
    pair graph; every document gets its component's minimum doc_id as
    group_rep (singletons map to themselves).  See min_label_components for
    the distributed CC scheme; the full corpus joins in exactly once at the
    end.  `pairs` optionally supplies a precomputed jaccard_verified_pairs
    result (see its docstring on chain materialization); without it the
    pairs are jaccard_verified_pairs at its defaults."""
    if pairs is None:
        pairs = jaccard_verified_pairs(docs, n_rows=n_rows)
    labels = min_label_components(pairs.select("doc_a", "doc_b"))
    return (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("rep", "doc_id").alias("group_rep"))
    )


def _simhash_total(toks_col, bits: int):
    """The SimHash bit-vote sum over a token-array column: bit b of
    md5(token) votes +1/-1; majority sets the bit.  Bit b lives in hex
    nibble b//4 (chars 1-based), bit position b%4 within the nibble — an
    arithmetic-only derivation both Spark and DuckDB evaluate identically.

    HASH-ONCE shape: each token is md5'd exactly once and its full ±1 vote
    vector is derived from that single digest, then ONE aggregate pass sums
    vote vectors element-wise.  The per-bit-aggregate formulation this
    replaces re-hashed every token inside each of the `bits` separate
    aggregate lambdas (16-32x the hashing) — codegen's subexpression
    elimination does not enter lambda bodies, so the digest must be bound to
    a lambda VARIABLE to be reused: transform over the singleton array
    [md5(t)] is that let-binding (h is computed once, read `bits` times)."""
    hexd = F.lit("0123456789abcdef")

    def bit(h, b: int):
        nibble_val = F.instr(hexd, F.substring(h, b // 4 + 1, 1)) - 1
        return F.floor(nibble_val / (2 ** (b % 4))) % 2

    def votes_of(t):
        return F.element_at(
            F.transform(
                F.array(F.md5(t)),
                lambda h: F.array(*[bit(h, b) * 2 - 1 for b in range(bits)]),
            ),
            1,
        )

    zeros = F.array(*[F.lit(0).cast("long") for _ in range(bits)])
    sums = F.aggregate(
        toks_col, zeros,
        lambda acc, t: F.zip_with(acc, votes_of(t), lambda a, v: a + v),
    )
    weights = F.array(*[F.lit(2**b).cast("long") for b in range(bits)])
    return F.aggregate(
        F.zip_with(sums, weights, lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_expr(text_col, bits: int):
    """SimHash of a text column as a single JVM expression (long) — usable
    anywhere a Column is (including unbounded streams: it contains no
    aggregation or Python).  Empty/whitespace-only text hashes to 0."""
    toks = F.filter(F.split(F.trim(text_col), r"\s+"), lambda t: t != F.lit(""))
    return F.when(F.size(toks) > 0, _simhash_total(toks, bits)).otherwise(F.lit(0)).cast("long")


def simhash(docs: DataFrame) -> DataFrame:
    """Per-document SIMHASH_BITS-bit SimHash over whitespace tokens (see
    _simhash_total).  Returns (doc_id, simhash)."""
    return docs.select("doc_id", simhash_expr(F.col("text"), SIMHASH_BITS).alias("simhash"))
