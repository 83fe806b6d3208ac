"""Distributed connected components: pointer-jumping convergence on long
chains (the ADVICE-flagged O(diameter) failure mode) and the
non-convergence guard."""

import pytest
from pyspark.sql import functions as F

from arabic_ocr_spark.operators.dedup import min_label_components


def _path_graph(spark, n):
    """0-1-2-...-(n-1): diameter n-1, the worst case for one-hop propagation."""
    return spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )


def test_long_chain_converges_in_log_rounds(spark):
    """A 120-node chain would need ~119 one-hop rounds; pointer jumping must
    finish within 10."""
    labels = min_label_components(_path_graph(spark, 120), max_iters=10)
    rows = labels.collect()
    assert len(rows) == 120
    assert all(r["rep"] == 0 for r in rows)


def test_multiple_components_get_their_own_min(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21)], "doc_a long, doc_b long"
    )
    labels = {r["doc_a"]: r["rep"] for r in min_label_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_nonconvergence_raises_not_silent(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(_path_graph(spark, 200), max_iters=2)


def test_lsh_hot_bucket_cap_star(spark):
    """Text-ladder twin of the similarity hot-bucket guard: m identical
    documents (distinct ids) collapse into one band bucket; the cap reduces
    the bucket's contribution to the anchor star, keeping candidates O(m)
    while every member stays connected to the anchor for CC grouping."""
    from arabic_ocr_spark.operators.dedup import lsh_candidate_pairs

    m, n_bg = 80, 20
    tmpl = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(j, tmpl) for j in range(m)] + [
        (1000 + j, f"completely different document number {j} with its own words")
        for j in range(n_bg)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = lsh_candidate_pairs(docs, max_bucket_size=None).count()
    assert uncapped >= m * (m - 1) // 2
    capped = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs, max_bucket_size=10).collect()}
    assert {(0, j) for j in range(1, m)} <= capped  # star keeps connectivity
    assert len(capped) <= 3 * (m + n_bg)  # O(n), not O(m^2)


def test_lsh_auto_guard_binds_only_on_degenerate_buckets(spark):
    """Default max_bucket_size='auto' (cap = ceil(8*sqrt(n)), floor 64) must
    cap a mass-templated cluster BY DEFAULT — the production-shaped path no
    longer runs unguarded — while natural corpora (gated fixtures) sit far
    below the cap and keep exact banded semantics."""
    from arabic_ocr_spark.operators.dedup import (
        auto_bucket_cap,
        lsh_bucket_audit,
        lsh_candidate_pairs,
    )

    m, n_bg = 90, 10  # n=100 -> cap 80 < m: the auto guard binds
    tmpl = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(j, tmpl) for j in range(m)] + [
        (1000 + j, f"completely different document number {j} with its own words")
        for j in range(n_bg)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    auto = [(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs).collect()]
    assert {(0, j) for j in range(1, m)} <= set(auto)  # star keeps connectivity
    assert len(auto) <= 3 * (m + n_bg)  # O(n) by default, not O(m^2)

    audit = lsh_bucket_audit(docs).collect()[0]
    assert audit.cap == auto_bucket_cap(m + n_bg) == 80
    # the identical-doc cluster fills one hot bucket in each of the 4 bands
    assert audit.n_hot_buckets == 4
    assert audit.max_bucket == m
    assert audit.dropped_pairs_ubound == 4 * (m * (m - 1) // 2 - (m - 1))

    # unguarded: no cap to report, so NULL rather than a sentinel
    unguarded = lsh_bucket_audit(docs, max_bucket_size=None).collect()[0]
    assert unguarded.cap is None
    assert unguarded.n_hot_buckets == unguarded.dropped_pairs_ubound == 0
    assert unguarded.max_bucket == m


def test_lsh_auto_guard_is_nonbinding_on_fixture(spark):
    """At the gated scales natural buckets sit far below ceil(8*sqrt(n)), so
    the default-guarded candidates equal the unguarded (oracle) semantics."""
    from arabic_ocr_spark.operators.dedup import lsh_bucket_audit, lsh_candidate_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    audit = lsh_bucket_audit(docs).collect()[0]
    assert audit.n_hot_buckets == 0 and audit.max_bucket <= audit.cap
    auto = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs).collect()}
    unguarded = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs, max_bucket_size=None).collect()}
    assert auto == unguarded


def test_resolve_bucket_cap_validates_strings():
    """Only the exact string 'auto' is a valid cap spelling: anything else
    must raise instead of flowing into a Spark string-vs-int comparison
    (which casts to NULL and would silently star-reduce EVERY bucket)."""
    import pytest as _pytest

    from arabic_ocr_spark.operators.dedup import resolve_bucket_cap

    assert resolve_bucket_cap(None) is None
    assert resolve_bucket_cap(10) == 10
    assert resolve_bucket_cap("auto", n_rows=100) == 80
    for bad in ("AUTO", "Auto", "64", ""):
        with _pytest.raises(ValueError, match="auto"):
            resolve_bucket_cap(bad, n_rows=100)
    # "auto" with nothing to count
    with _pytest.raises(ValueError, match="auto"):
        resolve_bucket_cap("auto")


def _final_plans(spark, run):
    """(run(), the final physical plan tree of every SQL execution run()
    started — its localCheckpoint jobs included)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()  # SQL events land asynchronously
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    seen = {e.executionId() for e in executions()}
    out = run()
    return out, [e.physicalPlanDescription().split("\n\n")[0].split("== Initial Plan ==")[0]
                 for e in executions() if e.executionId() not in seen]


def test_jaccard_verify_falls_back_to_shuffle_joins(spark):
    """jaccard_verified_pairs leaves the join strategy to the planner: by
    default its small sides broadcast, and with broadcasting off (a corpus
    past spark.sql.autoBroadcastJoinThreshold) every join it runs is a
    sort-merge join, with the same verified pairs."""
    import re

    from arabic_ocr_spark.operators.dedup import jaccard_verified_pairs

    base = [f"document {i} is about topic {i * 7}, with shared words and a tail" for i in range(12)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)] + [(100 + i, t + " again") for i, t in enumerate(base)],
        "doc_id long, text string")
    joins = lambda plans: re.findall(r"\b(\w+Join)\b", "\n".join(plans))  # noqa: E731
    default, plans = _final_plans(spark, lambda: jaccard_verified_pairs(docs).collect())
    assert "BroadcastHashJoin" in joins(plans)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled, plans = _final_plans(spark, lambda: jaccard_verified_pairs(docs).collect())
    finally:
        spark.conf.set(key, prev)
    assert joins(plans) and set(joins(plans)) == {"SortMergeJoin"}
    assert default and sorted(map(tuple, shuffled)) == sorted(map(tuple, default))
