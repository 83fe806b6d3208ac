"""Seeded input generation for the three workloads.

Everything here is a pure function of the seed: the same seed gives the
same parquet bytes.  Row counts are fixed per workload (not drawn from the
seed), so runs on different seeds do the same amount of work and their
timings are comparable.  Pages are rendered through the engine's own
`sources` layer (glyphs, synth.rotate_page, codec.encode_payload) and the
per-turn oracle is the serial `kernel.pipeline.extract_page`.
"""

from __future__ import annotations

import hashlib
import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from arabic_ocr_spark.kernel.pipeline import extract_page
from arabic_ocr_spark.sources.codec import decode_payload, encode_payload
from arabic_ocr_spark.sources.glyphs import compose_paragraph
from arabic_ocr_spark.sources.synth import rotate_page

PAGE_WIDTH = 190
# inputs are written as this many parquet files, so scans run in parallel
FILE_PARTS = 4


def _write_parts(table: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILE_PARTS)
    for i in range(FILE_PARTS):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return path


@dataclass(frozen=True)
class PageCorpus:
    """A transcripts table plus its golden table, both on disk."""
    input_path: str
    golden_path: str
    n_turns: int
    payloads: list          # distinct payload strings, in pool order
    expected: dict          # (conv_id, turn_idx) -> serial extract_page text
    truth: dict             # (conv_id, turn_idx) -> composed ground-truth text


def _render_pool(rng, n_pages: int, min_lines: int, max_lines: int,
                 rotated: int, model) -> tuple[list[str], list[str], list[str]]:
    """n_pages distinct justified pages, line counts spread evenly over
    [min_lines, max_lines]; exactly `rotated` of them are rotated by
    U(-3, 3) degrees so deskew has work to do.  Returns (payloads, oracle
    texts, ground-truth texts)."""
    rot = set(rng.choice(n_pages, size=rotated, replace=False).tolist()) if rotated else set()
    n_lines = rng.permutation([min_lines + i % (max_lines - min_lines + 1) for i in range(n_pages)])
    payloads, oracle, truth = [], [], []
    for i in range(n_pages):
        img, true_text, _ = compose_paragraph(rng, int(n_lines[i]), PAGE_WIDTH)
        if i in rot:
            img = rotate_page(img, float(rng.uniform(-3.0, 3.0)))
        payload = encode_payload(img)
        payloads.append(payload)
        oracle.append(extract_page(decode_payload(payload), model).text)
        truth.append(true_text)
    return payloads, oracle, truth


def _write_corpus(out_dir: str, convs: list[str], turns: list[int], pool_ids: list[int],
                  payloads, oracle, truth, rng) -> PageCorpus:
    n = len(convs)
    order = rng.permutation(n)  # stored shuffled: the job restores turn order
    roles = ("user", "assistant", "tool")
    table = pa.table({
        "conv_id": pa.array([convs[i] for i in order], pa.string()),
        "turn_idx": pa.array([turns[i] for i in order], pa.int32()),
        "role": pa.array([roles[turns[i] % 3] for i in order], pa.string()),
        "text": pa.array([payloads[pool_ids[i]] for i in order], pa.string()),
    })
    golden = pa.table({
        "conv_id": pa.array(convs, pa.string()),
        "turn_idx": pa.array(turns, pa.int32()),
        "expected_text": pa.array([oracle[p] for p in pool_ids], pa.string()),
        "true_text": pa.array([truth[p] for p in pool_ids], pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    input_path = _write_parts(table, os.path.join(out_dir, "transcripts"))
    golden_path = _write_parts(golden, os.path.join(out_dir, "golden"))
    keys = list(zip(convs, turns))
    return PageCorpus(
        input_path=input_path, golden_path=golden_path, n_turns=n, payloads=payloads,
        expected={k: oracle[p] for k, p in zip(keys, pool_ids)},
        truth={k: truth[p] for k, p in zip(keys, pool_ids)},
    )


def dense_pages(out_dir: str, seed: int, model, n_pages: int, turns_per_conv: int) -> PageCorpus:
    """Every turn carries its own distinct 3-7 line justified page; 10% of
    the pages are rotated."""
    rng = np.random.default_rng([seed, 1])
    payloads, oracle, truth = _render_pool(rng, n_pages, 3, 7, n_pages // 10, model)
    convs = [f"conv_{i // turns_per_conv:06d}" for i in range(n_pages)]
    turns = [i % turns_per_conv for i in range(n_pages)]
    return _write_corpus(out_dir, convs, turns, list(range(n_pages)), payloads, oracle, truth, rng)


def conversation_lengths(n_turns: int, n_convs: int, skew_factor: int) -> list[int]:
    """Heavy-tailed lengths that sum to exactly n_turns: conversation i
    (1-based, i >= 2) gets a Zipf(1.1) share of the non-hot turns; the hot
    conversation (index 0) gets skew_factor x the median length.  A pure
    function of its arguments, so every seed does the same amount of work."""
    w = 1.0 / np.arange(1, n_convs) ** 1.1
    # hot = skew_factor * median(rest) and rest sums to n_turns - hot:
    # solve for the median share first, then round by largest remainder
    med_w = float(np.median(w)) / w.sum()
    rest_total = int(round(n_turns / (1.0 + skew_factor * med_w)))
    raw = w / w.sum() * rest_total
    rest = np.maximum(1, np.floor(raw)).astype(int)
    for i in np.argsort(-(raw - np.floor(raw)))[: max(0, rest_total - int(rest.sum()))]:
        rest[i] += 1
    hot = n_turns - int(rest.sum())
    return [hot] + rest.tolist()


def skewed_pages(out_dir: str, seed: int, model, n_turns: int, n_convs: int,
                 pool_size: int, skew_factor: int) -> PageCorpus:
    """Short 1-2 line pages drawn from a pool of `pool_size` distinct pages
    over heavy-tailed conversation lengths with one hot conversation."""
    rng = np.random.default_rng([seed, 2])
    payloads, oracle, truth = _render_pool(rng, pool_size, 1, 2, 0, model)
    lengths = conversation_lengths(n_turns, n_convs, skew_factor)
    conv_names = [f"conv_{i:06d}" for i in rng.permutation(n_convs)]
    convs, turns = [], []
    for name, n in zip(conv_names, lengths):
        convs += [name] * n
        turns += list(range(n))
    pool_ids = rng.integers(0, pool_size, size=len(convs)).tolist()
    return _write_corpus(out_dir, convs, turns, pool_ids, payloads, oracle, truth, rng)


# ---------------------------------------------------------------- dedup_bands

@dataclass(frozen=True)
class BandCorpus:
    docs_path: str
    emb_path: str
    n_docs: int
    n_vecs: int
    texts: dict             # doc_id -> text
    vectors: np.ndarray     # row i = vec_id i (float32, as stored)
    true_doc_pairs: set     # planted (a < b) pairs with Jaccard >= threshold
    true_vec_pairs: set     # planted (a < b) pairs with cosine >= threshold


def shingles(text: str, k: int) -> set:
    """The operator's shingle set: distinct character k-grams, or the whole
    text when it is shorter than k."""
    if len(text) < k:
        return {text}
    return {text[i:i + k] for i in range(len(text) - k + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _word(rng) -> str:
    return "".join(rng.choice(list(string.ascii_lowercase), size=int(rng.integers(3, 9))))


def _minhash(shingle: str, seed: int) -> str:
    return hashlib.md5(f"{shingle}:{seed}".encode("utf-8")).hexdigest()


def _docs(rng, n_docs: int, n_clusters: int, cluster_size: int, n_templated: int,
          k: int, num_hashes: int, threshold: float) -> tuple[list[str], set]:
    texts: list[str] = []
    planted: list[list[int]] = []
    for _ in range(n_clusters):
        base = [_word(rng) for _ in range(60)]
        members = []
        for _ in range(cluster_size):
            words = list(base)
            for j in rng.choice(len(words), size=2, replace=False):
                words[j] = _word(rng)
            members.append(len(texts))
            texts.append(" ".join(words))
        planted.append(members)
    # one mass-templated cluster: a shared boilerplate body plus a 4-digit
    # per-document number.  A number is kept only when none of the shingles
    # it adds beats the body's minimum under any of the operator's hash
    # seeds (md5(shingle || ':' || seed), dedup.py), so every member has
    # the body's signature: one bucket per band, and the star guard keeps
    # exactly the anchor's pairs on every seed
    template = " ".join(_word(rng) for _ in range(70))
    body = shingles(template, k)
    floor = [min(_minhash(s, i) for s in body) for i in range(num_hashes)]
    members = []
    for number in rng.permutation(10**4):
        text = f"{template} {int(number):04d}"
        if all(_minhash(s, i) > floor[i] for s in shingles(text, k) - body
               for i in range(num_hashes)):
            members.append(len(texts))
            texts.append(text)
            if len(members) == n_templated:
                break
    planted.append(members)
    while len(texts) < n_docs:
        texts.append(" ".join(_word(rng) for _ in range(int(rng.integers(40, 80)))))
    true_pairs = set()
    sh = {i: shingles(texts[i], k) for m in planted for i in m}
    for m in planted:
        for x in range(len(m)):
            for y in range(x + 1, len(m)):
                if jaccard(sh[m[x]], sh[m[y]]) >= threshold:
                    true_pairs.add((m[x], m[y]))
    return texts, true_pairs


def _vectors(rng, n_vecs: int, dim: int, n_clusters: int, cluster_size: int,
             n_templated: int, threshold: float) -> tuple[np.ndarray, set]:
    vecs = rng.standard_normal((n_vecs, dim))
    planted: list[np.ndarray] = []
    pos = 0
    # natural clusters at cosine ~0.98; the templated cluster is near-identical
    # (float32-distinct, cosine 1.0), so its members share every band key
    for size, eps in [(cluster_size, 0.15)] * n_clusters + [(n_templated, 1e-5)]:
        idx = np.arange(pos, pos + size)
        vecs[idx] = vecs[pos] + eps * rng.standard_normal((size, dim))
        planted.append(idx)
        pos += size
    vecs = vecs.astype(np.float32)
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    true_pairs = set()
    for idx in planted:
        sims = unit[idx] @ unit[idx].T
        ii, jj = np.nonzero(np.triu(sims >= threshold, 1))
        true_pairs.update(zip(idx[ii].tolist(), idx[jj].tolist()))
    return vecs, true_pairs


def band_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int,
                doc_clusters: int, vec_clusters: int, cluster_size: int,
                n_templated_docs: int, n_templated_vecs: int, k: int, num_hashes: int,
                jaccard_threshold: float, cosine_threshold: float) -> BandCorpus:
    """documents (doc_id, text) and embeddings (vec_id, embedding float[]),
    each with natural near-dup clusters and one mass-templated cluster."""
    rng = np.random.default_rng([seed, 3])
    texts, true_docs = _docs(rng, n_docs, doc_clusters, cluster_size, n_templated_docs,
                             k, num_hashes, jaccard_threshold)
    vecs, true_vecs = _vectors(rng, n_vecs, dim, vec_clusters, cluster_size,
                               n_templated_vecs, cosine_threshold)
    # ids are shuffled so cluster members are not id-contiguous
    doc_ids = rng.permutation(n_docs)
    vec_ids = rng.permutation(n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    docs_path = _write_parts(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), os.path.join(out_dir, "documents"))
    emb_path = _write_parts(pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }), os.path.join(out_dir, "embeddings"))
    by_vec_id = np.empty_like(vecs)
    by_vec_id[vec_ids] = vecs

    def remap(pairs, ids):
        return {(min(ids[a], ids[b]), max(ids[a], ids[b])) for a, b in pairs}

    return BandCorpus(
        docs_path=docs_path, emb_path=emb_path, n_docs=n_docs, n_vecs=n_vecs,
        texts={int(doc_ids[i]): t for i, t in enumerate(texts)}, vectors=by_vec_id,
        true_doc_pairs={(int(a), int(b)) for a, b in remap(true_docs, doc_ids)},
        true_vec_pairs={(int(a), int(b)) for a, b in remap(true_vecs, vec_ids)},
    )
