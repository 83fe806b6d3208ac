"""The benchmark's workloads (those of record are listed in BENCHMARK.json).

Each workload drives the engine only through its public entry points and
has four parts:

- `prepare`: generate the seeded inputs and their reference outputs;
- `rep`: the timed job, from the call until its output is committed;
- `check`: compare the committed output with the reference (every rep);
- `layers`: per-layer figures for the traced run, from the last traced
  rep's output and from extra probe calls made after it.

Spans are opened around every call into a layer; with tracing off they
cost one attribute test each.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
import probes
from tracer import Tracer

from arabic_ocr_spark.job import (
    ExtractionJobConfig,
    derive_salt_buckets,
    plan_extraction,
    read_lineage,
    run_extraction,
    stage_chunked,
)
from arabic_ocr_spark.kernel.classifier import CharModel, match_feat_to_char
from arabic_ocr_spark.kernel.features import batch_get_feat_vectors
from arabic_ocr_spark.kernel.geometry import deskew
from arabic_ocr_spark.kernel.imgops import binarize_inv
from arabic_ocr_spark.kernel.pipeline import extract_page
from arabic_ocr_spark.kernel.segmentation import contour_seg, segment_lines, word_separators
from arabic_ocr_spark.operators.dedup import (
    dedup_groups,
    jaccard_verified_pairs,
    lsh_bucket_audit,
    lsh_candidate_pairs,
)
from arabic_ocr_spark.operators.similarity import (
    embedding_neardup_candidates,
    embedding_neardup_hi,
    neardup_band_params,
    neardup_bucket_audit,
)
from arabic_ocr_spark.sources.codec import decode_payload
from arabic_ocr_spark.sources.synth import default_model_path

# How many distinct payloads the traced kernel replay runs serially.
REPLAY_PAGES = 24


@dataclass
class Ctx:
    spark: object
    k: int
    seed: int
    work: str
    tracer: Tracer
    probe: probes.SparkProbe
    model: CharModel = field(default_factory=lambda: CharModel.load(default_model_path()))


@dataclass
class RepInfo:
    """The last traced rep, as `layers` needs it."""
    out: object          # what `rep` returned
    wall: float          # seconds
    start_epoch: float   # time.time() at the call
    cpu_s: float         # CPU seconds of this process and all below it
    group: str           # Spark job group of the rep
    jobs: int            # Spark jobs the rep started
    n_traced: int        # traced reps run (span totals are divided by it)


@dataclass
class Check:
    rows: int            # rows the rep attempted
    failed: int          # rows with ok=False, plus failed Spark tasks
    exact: int           # rows/pairs equal to the reference computation
    exact_of: int        # rows/pairs compared with the reference
    truth: int           # outputs equal to the generated ground truth
    truth_of: int
    notes: list = field(default_factory=list)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _read_output(out_dir: str) -> dict:
    """The committed extraction rows, as python lists by column."""
    table = ds.dataset(os.path.join(out_dir, "data"), format="parquet",
                       partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", "extracted_text", "ok", "proc_us"])
    return table.to_pydict()


class _OcrWorkload:
    """Shared by the extraction workloads: output check, kernel replay and
    the job-layer figures.

    Each runs num_chunks = k * NUM_WAVES, so every wave has exactly k
    non-empty chunks, one per core.  The config default (64 chunks) costs
    ~0.25 s of fixed latency per Python task whatever the chunk holds,
    which would swamp these input sizes (README.md, hazards)."""

    NUM_WAVES = 2
    rows = 0

    def check(self, ctx: Ctx, out_dir: str) -> Check:
        corpus = self.corpus
        got = _read_output(out_dir)
        keys = list(zip(got["conv_id"], got["turn_idx"]))
        c = Check(rows=corpus.n_turns, failed=sum(1 for ok in got["ok"] if not ok),
                  exact=0, exact_of=corpus.n_turns, truth=0, truth_of=corpus.n_turns)
        if len(keys) != corpus.n_turns or set(keys) != set(corpus.expected):
            c.notes.append(f"row set differs: {len(keys)} rows, {len(set(keys))} distinct keys, "
                           f"{corpus.n_turns} expected")
        for key, text in zip(keys, got["extracted_text"]):
            c.exact += corpus.expected.get(key) == text
            c.truth += corpus.truth.get(key) == text
        self._last_proc_us = got["proc_us"]
        return c

    def replay(self, ctx: Ctx) -> tuple[bool, dict]:
        """Serial replay of extract_page's stages over a seeded sample of the
        distinct payloads, one span per stage call.  Returns whether every
        replayed text equals extract_page's, and the per-stage figures."""
        tr = ctx.tracer
        payloads = self.corpus.payloads
        rng = np.random.default_rng([ctx.seed, 9])
        sample = rng.choice(len(payloads), size=min(REPLAY_PAGES, len(payloads)), replace=False)
        words = cuts = 0
        same = True
        for i in sample:
            payload = payloads[int(i)]
            with tr.span("kernel.page"):
                with tr.span("kernel.decode"):
                    image = decode_payload(payload)
                with tr.span("kernel.binarize"):
                    binary = binarize_inv(image)
                with tr.span("kernel.deskew"):
                    binary = deskew(binary)
                with tr.span("kernel.lines"):
                    lines = segment_lines(binary)
                text = ""
                for line in lines:
                    with tr.span("kernel.word_seps"):
                        seps, baseline = word_separators(line)
                    previous_width = line.shape[1]
                    for j in range(len(seps) - 1, -1, -1):
                        word = line[:, int(seps[j]):previous_width]
                        previous_width = int(seps[j])
                        with tr.span("kernel.contour_seg"):
                            word_cuts = contour_seg(word, baseline, [])
                        with tr.span("kernel.features"):
                            fvs = batch_get_feat_vectors(word, word_cuts)
                        with tr.span("kernel.classify"):
                            text += " " + match_feat_to_char(ctx.model, fvs)
                        words += 1
                        cuts += len(word_cuts)
            same &= text == extract_page(decode_payload(payload), ctx.model, []).text
        n = len(sample)
        out = {f"kernel.{s}_ms": tr.total(f"kernel.{s}") * 1e3 / n
               for s in ("page", "decode", "binarize", "deskew", "lines", "word_seps",
                         "contour_seg", "features", "classify")}
        out["kernel.words_per_page"] = words / n
        out["kernel.cuts_per_page"] = cuts / n
        return same, out

    def _job_layers(self, ctx: Ctx, rep: "RepInfo", noop_input) -> dict:
        spark, tr = ctx.spark, ctx.tracer
        lineage = read_lineage(spark, rep.out).collect()
        commits = sorted({r["wave"]: r["committed_at"] for r in lineage}.items())
        marks = [rep.start_epoch] + [t for _, t in commits]
        rows = [r["rows_processed"] for r in lineage]
        proc_us = sorted(self._last_proc_us)
        busy_s = sum(proc_us) / 1e6
        out = {
            "kernel.turn_us_p50": float(np.percentile(proc_us, 50)),
            "kernel.turn_us_p99": float(np.percentile(proc_us, 99)),
            "kernel.core_share": busy_s / rep.cpu_s if rep.cpu_s > 0 else 0.0,
            "job.wave_s_max": max(b - a for a, b in zip(marks, marks[1:])),
            "job.kernel_util": busy_s / (rep.wall * ctx.k),
            "job.chunk_rows_max_over_mean": max(rows) / (sum(rows) / len(rows)),
            "job.spark_jobs": float(rep.jobs),
        }
        noop_group = f"{rep.group}-noop"
        ctx.probe.start(noop_group)
        t0 = time.perf_counter()
        with tr.span("job.plan_noop"):
            (plan_extraction(spark, noop_input, self.config(ctx.k), model=ctx.model, **self.noop_kw)
             .write.format("noop").mode("overwrite").save())
        out["job.plan_noop_s"] = time.perf_counter() - t0
        run_s = tr.total("job.run_extraction") / rep.n_traced
        out["job.commit_s"] = run_s - out["job.plan_noop_s"]
        out["job.shuffle_mb"] = ctx.probe.shuffle_write_bytes(noop_group) / 1e6
        return out


class OcrDense(_OcrWorkload):
    """Distinct 3-7 line pages, 10% rotated, on the direct run_extraction
    path (salt in-plan, a rescan per wave): the kernel runs on every row;
    staging and the salt sketch do not run."""
    name = "ocr_dense"
    N_PAGES = 80
    TURNS_PER_CONV = 8
    noop_kw: dict = {}

    def config(self, k: int) -> ExtractionJobConfig:
        return ExtractionJobConfig(num_chunks=k * self.NUM_WAVES, num_waves=self.NUM_WAVES,
                                   golden_path=self.corpus.golden_path)

    def prepare(self, ctx: Ctx) -> None:
        self.corpus = inputs.dense_pages(os.path.join(ctx.work, "input"), ctx.seed, ctx.model,
                                         self.N_PAGES, self.TURNS_PER_CONV)
        self.rows = self.corpus.n_turns

    def rep(self, ctx: Ctx, rep_dir: str) -> str:
        out = _fresh(os.path.join(rep_dir, "out"))
        with ctx.tracer.span("job.run_extraction"):
            run_extraction(ctx.spark, self.corpus.input_path, out, self.config(ctx.k), model=ctx.model)
        return out

    def layers(self, ctx: Ctx, rep: "RepInfo") -> dict:
        # salt_buckets is pinned and the input is not staged here: neither
        # the sketch nor stage_chunked runs, so job.salt_sketch_s and
        # job.stage_s stay 0
        return self._job_layers(ctx, rep, ctx.spark.read.parquet(self.corpus.input_path))


class OcrSkewed(_OcrWorkload):
    """Short 1-2 line pages over heavy-tailed conversations with one hot
    one; the salt is derived and the input staged first: scan, sketch,
    shuffle and commit dominate, the kernel is a small share."""
    name = "ocr_skewed"
    N_TURNS = 320
    N_CONVS = 60
    POOL = 80
    SKEW_FACTOR = 40
    noop_kw = {"prechunked": True}

    def config(self, k: int) -> ExtractionJobConfig:
        return ExtractionJobConfig(num_chunks=k * self.NUM_WAVES, num_waves=self.NUM_WAVES,
                                   salt_buckets=None)

    def prepare(self, ctx: Ctx) -> None:
        self.corpus = inputs.skewed_pages(os.path.join(ctx.work, "input"), ctx.seed, ctx.model,
                                          self.N_TURNS, self.N_CONVS, self.POOL, self.SKEW_FACTOR)
        self.rows = self.corpus.n_turns

    def rep(self, ctx: Ctx, rep_dir: str) -> str:
        staged = _fresh(os.path.join(rep_dir, "staged"))
        out = _fresh(os.path.join(rep_dir, "out"))
        cfg = self.config(ctx.k)
        src = ctx.spark.read.parquet(self.corpus.input_path)
        with ctx.tracer.span("job.stage_chunked"):
            stage_chunked(ctx.spark, src, cfg, staged)
        with ctx.tracer.span("job.run_extraction"):
            run_extraction(ctx.spark, staged, out, cfg, model=ctx.model)
        self._staged = staged
        return out

    def layers(self, ctx: Ctx, rep: "RepInfo") -> dict:
        tr = ctx.tracer
        src = ctx.spark.read.parquet(self.corpus.input_path)
        t0 = time.perf_counter()
        with tr.span("job.salt_sketch"):
            derive_salt_buckets(src.select("conv_id", "turn_idx", "text"), ctx.k * self.NUM_WAVES)
        sketch_s = time.perf_counter() - t0
        staged = ctx.spark.read.parquet(self._staged).drop("wave")
        res = self._job_layers(ctx, rep, staged)
        res["job.salt_sketch_s"] = sketch_s
        res["job.stage_s"] = tr.total("job.stage_chunked") / rep.n_traced
        return res


class DedupBands:
    """Near-dup documents and embeddings with one mass-templated cluster
    each, so the "auto" hot-bucket cap binds on both band self-joins; no
    OCR kernel runs."""
    name = "dedup_bands"
    N_DOCS = 400
    N_VECS = 500
    DIM = 32
    # natural near-dups come in pairs: every component is then a single
    # edge or the templated star, so dedup_groups converges in the same
    # number of rounds on every seed
    CLUSTERS = 60
    CLUSTER_SIZE = 2
    TEMPLATED_DOCS = 180
    TEMPLATED_VECS = 200
    K = 7
    NUM_HASHES = 8
    JACCARD = 0.6
    COSINE = 0.95

    def prepare(self, ctx: Ctx) -> None:
        self.corpus = inputs.band_corpus(
            os.path.join(ctx.work, "input"), ctx.seed, self.N_DOCS, self.N_VECS, self.DIM,
            self.CLUSTERS, self.CLUSTERS, self.CLUSTER_SIZE, self.TEMPLATED_DOCS,
            self.TEMPLATED_VECS, self.K, self.NUM_HASHES, self.JACCARD, self.COSINE)
        self.rows = self.N_DOCS + self.N_VECS
        self._shingles = {i: inputs.shingles(t, self.K) for i, t in self.corpus.texts.items()}

    def rep(self, ctx: Ctx, rep_dir: str) -> dict:
        spark, tr = ctx.spark, ctx.tracer
        out = {n: _fresh(os.path.join(rep_dir, n)) for n in ("pairs", "groups", "neardup")}
        docs = spark.read.parquet(self.corpus.docs_path)
        emb = spark.read.parquet(self.corpus.emb_path)
        with tr.span("dedup.lsh_candidate_pairs"):
            cands = lsh_candidate_pairs(docs, k=self.K, num_hashes=self.NUM_HASHES,
                                        n_rows=self.N_DOCS).localCheckpoint()
        with tr.span("dedup.jaccard_verified_pairs"):
            (jaccard_verified_pairs(docs, k=self.K, num_hashes=self.NUM_HASHES,
                                    threshold=self.JACCARD, candidates=cands)
             .write.parquet(out["pairs"]))
        with tr.span("dedup.dedup_groups"):
            dedup_groups(docs, pairs=spark.read.parquet(out["pairs"])).write.parquet(out["groups"])
        with tr.span("similarity.embedding_neardup_hi"):
            (embedding_neardup_hi(emb, threshold=self.COSINE, n_rows=self.N_VECS)
             .write.parquet(out["neardup"]))
        self._cands = cands
        return out

    def check(self, ctx: Ctx, out: dict) -> Check:
        c = Check(rows=self.rows, failed=0, exact=0, exact_of=0, truth=0, truth_of=0)
        pairs = pq.read_table(out["pairs"]).to_pydict()
        for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
            ref = inputs.jaccard(self._shingles[a], self._shingles[b])
            c.exact += a < b and abs(ref - j) <= 1e-4 and j >= self.JACCARD
        c.exact_of += len(pairs["doc_a"])
        # groups: every document, labelled with the minimum id of its
        # connected component over the verified pairs
        rep = _components(self.corpus.texts.keys(), zip(pairs["doc_a"], pairs["doc_b"]))
        groups = pq.read_table(out["groups"]).to_pydict()
        c.exact += sum(rep[d] == g for d, g in zip(groups["doc_id"], groups["group_rep"]))
        c.exact_of += self.N_DOCS
        if len(groups["doc_id"]) != self.N_DOCS:
            c.notes.append(f"groups has {len(groups['doc_id'])} rows, expected {self.N_DOCS}")
        nd = pq.read_table(out["neardup"]).to_pydict()
        v = self.corpus.vectors.astype(np.float64)
        for a, b, s in zip(nd["vec_a"], nd["vec_b"], nd["sim_r"]):
            ref = float(v[a] @ v[b] / (np.linalg.norm(v[a]) * np.linalg.norm(v[b])))
            c.exact += a < b and abs(ref - s) <= 1e-4 and s >= self.COSINE
        c.exact_of += len(nd["vec_a"])
        found_docs = set(zip(pairs["doc_a"], pairs["doc_b"]))
        found_vecs = set(zip(nd["vec_a"], nd["vec_b"]))
        c.truth = (len(self.corpus.true_doc_pairs & found_docs)
                   + len(self.corpus.true_vec_pairs & found_vecs))
        c.truth_of = len(self.corpus.true_doc_pairs) + len(self.corpus.true_vec_pairs)
        self._counts = {"verified": len(pairs["doc_a"]), "nd_verified": len(nd["vec_a"])}
        return c

    def replay(self, ctx: Ctx) -> tuple[bool, dict]:
        return True, {}  # no OCR payloads on this workload

    def layers(self, ctx: Ctx, rep: "RepInfo") -> dict:
        spark, tr = ctx.spark, ctx.tracer
        docs = spark.read.parquet(self.corpus.docs_path)
        emb = spark.read.parquet(self.corpus.emb_path)
        n = rep.n_traced
        res = {
            "dedup.candidates_s": tr.total("dedup.lsh_candidate_pairs") / n,
            "dedup.verify_s": tr.total("dedup.jaccard_verified_pairs") / n,
            "dedup.groups_s": tr.total("dedup.dedup_groups") / n,
            "similarity.neardup_s": tr.total("similarity.embedding_neardup_hi") / n,
        }
        res["dedup.candidates"] = float(self._cands.count())
        res["dedup.verified"] = float(self._counts["verified"])
        res["dedup.verify_yield"] = res["dedup.verified"] / max(1.0, res["dedup.candidates"])
        with tr.span("dedup.lsh_bucket_audit"):
            audit = lsh_bucket_audit(docs, k=self.K, num_hashes=self.NUM_HASHES,
                                     n_rows=self.N_DOCS).collect()[0]
        res["dedup.hot_buckets"] = float(audit["n_hot_buckets"])
        res["dedup.dropped_pairs_ubound"] = float(audit["dropped_pairs_ubound"])
        nb, rpb = neardup_band_params(self.N_VECS, self.COSINE)
        t0 = time.perf_counter()
        with tr.span("similarity.embedding_neardup_candidates"):
            n_cands = embedding_neardup_candidates(emb, nb, rpb, n_rows=self.N_VECS).count()
        res["similarity.candidates_s"] = time.perf_counter() - t0
        res["similarity.candidates"] = float(n_cands)
        res["similarity.verified"] = float(self._counts["nd_verified"])
        res["similarity.verify_yield"] = res["similarity.verified"] / max(1.0, n_cands)
        with tr.span("similarity.neardup_bucket_audit"):
            audit = neardup_bucket_audit(emb, nb, rpb, n_rows=self.N_VECS).collect()[0]
        res["similarity.hot_buckets"] = float(audit["n_hot_buckets"])
        return res


def _components(nodes, edges) -> dict:
    """Union-find; every node maps to its component's minimum id."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


WORKLOADS = {w.name: w for w in (OcrDense, OcrSkewed, DedupBands)}
