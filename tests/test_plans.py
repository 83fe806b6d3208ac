"""Physical-plan property tests (PLANS.md): pruning, pushdown, broadcast,
and shuffle count are load-bearing at scale — pin them."""

import pytest


import re


def _formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _tree_count(plan: str, node: str) -> int:
    """Count node occurrences in the plan TREE (formatted mode repeats each
    node in the details section)."""
    return len(re.findall(rf"[+:]- {node}", plan))


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as e

    return e


def test_extraction_plan_prunes_and_single_shuffle(spark, entry_mod):
    plan = _formatted(spark, entry_mod._extraction_plan(spark, "/root/testdata/sf0.001", cached=False))
    # column pruning reaches the scan: only the 3 needed columns are read
    assert "ReadSchema: struct<conv_id:string,turn_idx:int,text:string>" in plan
    # payload-present filter pushed into the parquet reader
    assert "PushedFilters: [IsNotNull(text)" in plan
    # exactly one shuffle: the salted repartition
    assert _tree_count(plan, "Exchange") == 1
    assert "MapInPandas" in plan and "Sort" in plan


def test_wave_filter_below_kernel(spark, entry_mod):
    """A wave-restricted plan must filter on the PRE-kernel chunk column:
    the wave predicate prunes before the shuffle, and no Filter sits above
    MapInPandas (which would re-run the kernel on all rows per wave)."""
    import os

    from pyspark.sql import functions as F

    from arabic_ocr_spark.job import ExtractionJobConfig, plan_extraction
    from arabic_ocr_spark.sources.synth import default_model_path

    d = entry_mod.synth_dir_for("/root/testdata/sf0.001")
    df = spark.read.parquet(os.path.join(d, "transcripts.parquet")).filter(F.col("text") != "")
    cfg = ExtractionJobConfig(num_chunks=12, num_waves=3, model_path=default_model_path())
    plan = _formatted(spark, plan_extraction(spark, df, cfg, wave=1))
    tree = plan.split("\n\n")[0]  # root-first tree section of formatted explain
    map_pos = tree.index("MapInPandas")
    filter_positions = [m.start() for m in re.finditer(r"Filter", tree)]
    assert filter_positions and all(p > map_pos for p in filter_positions)
    assert "pmod" in plan  # the wave predicate on the salted chunk
    assert _tree_count(plan, "Exchange") == 1  # still exactly one shuffle


def test_dim_joins_are_broadcast(spark, entry_mod):
    q = entry_mod.queries()["orders_by_nation"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert _tree_count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # fact scan pruned to join/agg columns only
    assert "struct<o_custkey:bigint,o_totalprice:double>" in plan


def test_pricing_filter_pushdown_and_partial_agg(spark, entry_mod):
    q = entry_mod.queries()["pricing_summary"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert "LessThanOrEqual(l_shipdate" in plan
    assert _tree_count(plan, "HashAggregate") == 2  # partial + final


def test_cosine_topk_rank_limit_pushdown(spark, entry_mod):
    q = entry_mod.queries()["cosine_topk"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert "WindowGroupLimit" in plan  # top-k pruned before the shuffle
    assert "BroadcastNestedLoopJoin" in plan  # tiny query side broadcast


def test_minhash_signatures_are_shuffle_free(spark, entry_mod):
    """Signature computation is map-only (array_min over per-seed md5
    transforms): the only shuffles in the LSH pair query belong to the
    band self-join and final distinct, never to the signatures."""
    from arabic_ocr_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig_plan = _formatted(spark, minhash_signatures(docs))
    assert _tree_count(sig_plan, "Exchange") == 0
    assert "Generate" not in sig_plan  # no explode

    q = entry_mod.queries()["minhash_lsh_pairs"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle(spark, entry_mod):
    """The union-merge as-of join shuffles exactly once (on the key); the
    window reuses that partitioning instead of adding an Exchange."""
    q = entry_mod.queries()["asof_join"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert _tree_count(plan, "Exchange") == 1
    assert "Window" in plan and "SortMergeJoin" not in plan and "Join" not in plan


def test_quality_gate_sits_below_kernel(spark, entry_mod):
    """With cfg.quality_filter the plan is: scan -> quality flag
    (MapInPandas) -> Filter(quality_ok) -> Exchange -> Sort -> OCR kernel
    (MapInPandas).  The gate filter must sit BELOW the kernel so dropped
    payloads never shuffle or extract; still exactly one Exchange."""
    import os

    from pyspark.sql import functions as F

    from arabic_ocr_spark.job import ExtractionJobConfig, plan_extraction
    from arabic_ocr_spark.sources.synth import default_model_path

    d = entry_mod.synth_dir_for("/root/testdata/sf0.001")
    df = spark.read.parquet(os.path.join(d, "transcripts.parquet")).filter(F.col("text") != "")
    cfg = ExtractionJobConfig(num_chunks=12, model_path=default_model_path(),
                              quality_filter=True)
    plan = _formatted(spark, plan_extraction(spark, df, cfg))
    tree = plan.split("\n\n")[0]
    maps = [m.start() for m in re.finditer(r"MapInPandas", tree)]
    assert len(maps) == 2  # quality flag + OCR kernel
    exchanges = [m.start() for m in re.finditer(r"[+:]- Exchange", tree)]
    assert len(exchanges) == 1
    filters = [m.start() for m in re.finditer(r"[+:]- Filter", tree)]
    # root-first tree: kernel printed first; the gate Filter must appear
    # between the kernel map and the flag map, i.e. below the kernel and the
    # exchange, above the flag's MapInPandas
    gate = [p for p in filters if maps[0] < p < maps[1]]
    assert gate and all(p > exchanges[0] for p in gate)
    assert "quality_ok" in plan  # expression details live outside the tree section


def test_ivf_candidate_join_carries_ids_not_vectors(spark):
    """The IVF index/probe cell join must ship (id, cell) rows only — the
    vectors re-join by id at the exact-cosine ranking stage.  Shipping
    vectors through the cell join (one copy per assigned cell) would shuffle ~3x
    the corpus vector bytes at scale."""
    from arabic_ocr_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = ivf_ann_topk(emb)._jdf.queryExecution().executedPlan().toString()
    # node shape: MapInPandas index_cells(vec_id#0L, v#3)#112, [vec_id#113L, cell#114], ...
    # the [..] AFTER the call is the UDF's OUTPUT schema: ids and cells only,
    # never the vector columns (v/q), which the UDF may consume but not emit
    outs = re.findall(r"MapInPandas (?:index_cells|probe_cells)\([^)]*\)#\d+, \[([^\]]*)\]", plan)
    assert len(outs) == 2, plan
    for out in outs:
        names = {a.strip().split("#")[0] for a in out.split(",")}
        assert names <= {"vec_id", "query_id", "cell"}, out
