"""The benchmark's own tests.  Slow: four traced runs of about a minute each.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_work", "tests")

# counts that must repeat exactly across two runs of one seed
COUNTS = {
    "ocr_dense": ["kernel.words_per_page", "kernel.cuts_per_page", "job.spark_jobs",
                  "job.chunk_rows_max_over_mean"],
    "dedup_bands": ["dedup.candidates", "dedup.verified", "dedup.hot_buckets",
                    "dedup.dropped_pairs_ubound", "similarity.candidates",
                    "similarity.verified", "similarity.hot_buckets"],
}


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=180)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def traced():
    """Two traced runs of seed 3 per workload."""
    return {w: [_result(_run(w, 3, 1)) for _ in range(2)] for w in COUNTS}


def _values(result: dict) -> dict:
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_counts_repeat_for_one_seed(traced, workload):
    first, second = (_values(r) for r in traced[workload])
    assert {m: first[m] for m in COUNTS[workload]} == {m: second[m] for m in COUNTS[workload]}


def test_traced_run_reports_every_per_layer_metric(traced):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    for runs in traced.values():
        for r in runs:
            assert r["correct"] and set(r["metrics"]) == names


def test_hot_bucket_cap_binds_on_dedup_bands(traced):
    for r in traced["dedup_bands"]:
        v = _values(r)
        assert v["dedup.hot_buckets"] >= 1 and v["similarity.hot_buckets"] >= 1


def test_no_kernel_span_on_dedup_bands(traced):
    with open(os.path.join(ROOT, ".perfbench_work", "records", "spans-dedup_bands-seed3.json"),
              encoding="utf-8") as f:
        spans = json.load(f)
    assert spans and not [s for s in spans if s["name"].startswith(("kernel.", "job."))]
    for r in traced["dedup_bands"]:
        v = _values(r)
        assert all(x == 0 for k, x in v.items() if k.startswith(("kernel.", "job.")))


def test_kernel_and_job_split_on_ocr_dense(traced):
    for r in traced["ocr_dense"]:
        v = _values(r)
        assert v["kernel.page_ms"] > 0 and v["job.plan_noop_s"] > 0 and v["job.spark_jobs"] > 0
        assert v["dedup.candidates"] == 0 and v["similarity.candidates"] == 0


def test_inputs_are_a_function_of_the_seed():
    sys.path[:0] = [HERE, ROOT]
    import inputs
    from arabic_ocr_spark.kernel.classifier import CharModel
    from arabic_ocr_spark.sources.synth import default_model_path

    model = CharModel.load(default_model_path())
    digests = []
    for attempt in range(2):
        out = os.path.join(SCRATCH, f"inputs{attempt}")
        shutil.rmtree(out, ignore_errors=True)
        inputs.dense_pages(os.path.join(out, "ocr"), 5, model, 12, 4)
        inputs.band_corpus(os.path.join(out, "bands"), 5, 120, 150, 8, 4, 4, 2, 70, 70,
                           7, 8, 0.6, 0.95)
        files = sorted(glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))
        digests.append([(os.path.relpath(p, out), open(p, "rb").read()) for p in files])
    shutil.rmtree(SCRATCH, ignore_errors=True)
    assert digests[0] == digests[1] and digests[0]


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _run("ocr_dense", 1, 0, cwd=bare)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    assert proc.returncode != 0 and proc.stdout.strip() == ""
