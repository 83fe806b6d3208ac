"""Classifier training — serial bootstrap and distributed (Spark) variant.

Reproduces the reference's training mechanism (reference integrator.py:
102-160, segment_words.py:85-201): per word, extract feature vectors; reject
the word unless the non-empty fv count matches the ground-truth char count;
validate each char against its per-char predicate list; bucket accepted
(char, fv) pairs by str(score) with set-dedup semantics.

The reference accumulates the map serially across images, rewriting the JSON
after every file.  Because accepted pairs form a SET (order-independent
union), the distributed variant emits (score, char, fv) rows from a
`mapInPandas` kernel, `dropDuplicates`, groups driver-side, and writes the
artifact once — same result, any parallelism.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import numpy as np

from .kernel.classifier import CharModel
from .kernel.features import batch_get_feat_vectors
from .kernel.pipeline import iter_words
from .sources.glyphs import _GLYPH_DEFS, compose_text_image  # noqa: F401

__all__ = ["validations_for", "validate_fv", "compare_and_assign", "train_serial", "build_model"]


# ---------------------------------------------------------------------------
# per-char validation predicates (the reference's table, integrator.py:46-99,
# re-keyed to our alphabet from each glyph's declared dots)
# ---------------------------------------------------------------------------

def _has_no_dots(fv):
    return fv[5] == 0


def _has_dots(fv):
    return fv[5] > 0


def _dotted_top(fv):
    return fv[4] == 1


def _dotted_bottom(fv):
    return fv[4] == 3


def validations_for(label: str) -> list:
    """Predicate list per glyph, derived from the alphabet definition."""
    body, dots = _GLYPH_DEFS[label]
    preds: list = []
    if not dots:
        preds.append(_has_no_dots)
    for pos, count in dots:
        preds.append(_has_dots)
        preds.append(_dotted_top if pos == "above" else _dotted_bottom)
    return preds


def validate_fv(label: str, fv: list) -> bool:
    return all(p(fv) for p in validations_for(label))


def compare_and_assign(feat_vects: list[list], word_str: str, char_map: dict):
    """Reference semantics (integrator.py:136-160): returns -1 when the
    segment count mismatches the word length (word rejected); otherwise
    mutates and returns char_map.  feat_vects is consumed reversed."""
    if len(word_str) != sum(1 for fv in feat_vects if fv != []):
        return -1
    fvs = list(reversed(feat_vects))
    for i, curr_char in enumerate(word_str):
        if not validate_fv(curr_char, fvs[i]):
            continue
        score = str(fvs[i][0])
        bucket = char_map.setdefault(score, [])
        fc = [curr_char, [float(x) for x in fvs[i]]]
        if fc not in bucket:
            bucket.append(fc)
    return char_map


def normalize_ground_truth(line: str) -> list[str]:
    """Ground-truth text normalization (reference integrator.py:4-15):
    collapse runs of spaces, strip newlines, map the lam-alef ligature to
    its sentinel, split on single spaces, drop empties."""
    while "  " in line:
        line = line.replace("  ", " ")
    line = line.replace("\n", "")
    line = line.replace("لا", "L")
    return [w for w in line.split(" ") if w != ""]


def train_words_for_alphabet(rng: np.random.Generator | None = None, n_random: int = 60) -> list[list[str]]:
    """Deterministic training corpus: every glyph in isolation-context plus
    randomized words (seeded) for context coverage."""
    rng = rng or np.random.default_rng(42)
    labels = list(_GLYPH_DEFS)
    pages: list[list[str]] = []
    for ch in labels:
        pages.append([f"{ch * 3} {ch * 4}", f"{ch * 5}"])
    for _ in range(n_random):
        lines = []
        for _l in range(int(rng.integers(1, 3))):
            words = [
                "".join(rng.choice(labels, size=int(rng.integers(3, 6))))
                for _w in range(int(rng.integers(1, 3)))
            ]
            lines.append(" ".join(words))
        pages.append(lines)
    return pages


def _train_one_page(img, gt_words: list[str], char_map: dict, skip_deskew: bool) -> tuple[int, int]:
    rejected = total = 0
    wi = 0
    try:
        for word_img, cuts, _li in iter_words(img, skip_deskew=skip_deskew):
            fvs = batch_get_feat_vectors(word_img, cuts)
            total += 1
            if wi >= len(gt_words):
                rejected += 1
                continue
            if compare_and_assign(fvs, gt_words[wi], char_map) == -1:
                rejected += 1
            wi += 1
    except Exception:
        # page-level segmentation failure: all its words count as rejected
        rejected += max(1, len(gt_words) - wi)
        total += max(1, len(gt_words) - wi)
    return rejected, total


def train_serial(pages: Iterable[list[str]] | None = None,
                 skew_rounds: int = 0, seed: int = 42) -> tuple[dict, int, int]:
    """Serial trainer over composed fixture pages.

    skew_rounds > 0 adds passes over the SAME pages rotated by small seeded
    angles (extraction runs the real deskew): warped glyph variants enter
    the map with the clean pairs first, so clean-page recognition is
    unchanged (exact matches hit distance 0 on the earlier pairs) while
    skewed pages gain nearest neighbours.  The count-mismatch rejection
    keeps badly-resegmented words out.

    Returns (raw char_map, rejected_words, total_words)."""
    from .sources.synth import rotate_page

    pages = list(pages) if pages is not None else train_words_for_alphabet()
    char_map: dict = {}
    rejected = total = 0
    # clean pass runs the FULL inference path (deskew on): min-area-rect
    # tilts even straight pages with ragged line ends by a fraction of a
    # degree, so training must see exactly what inference sees
    for lines in pages:
        gt_words = [w for ln in lines for w in ln.split()]
        img, _ = compose_text_image(lines)
        r, t = _train_one_page(img, gt_words, char_map, skip_deskew=False)
        rejected += r
        total += t
    rng = np.random.default_rng(seed + 7)
    for _round in range(skew_rounds):
        for lines in pages:
            gt_words = [w for ln in lines for w in ln.split()]
            img, _ = compose_text_image(lines)
            angle = float(rng.uniform(-3.0, 3.0))
            r, t = _train_one_page(rotate_page(img, angle), gt_words, char_map, skip_deskew=False)
            rejected += r
            total += t
    return char_map, rejected, total


DEFAULT_SKEW_ROUNDS = 4


def build_model(out_path: str | None = None, skew_rounds: int = DEFAULT_SKEW_ROUNDS) -> CharModel:
    """Builds the committed classifier artifact: clean pass through the full
    inference path plus skew-augmented rounds (see train_serial)."""
    raw, rejected, total = train_serial(skew_rounds=skew_rounds)
    model = CharModel.from_raw(raw)
    if out_path:
        model.save(out_path)
    return model


def train_spark(spark, pages: list[list[str]], out_path: str | None = None) -> CharModel:
    """Distributed trainer: pages -> (score, char, fv, encounter-seq) rows
    -> min-seq dedup -> driver merge in SERIAL INSERTION ORDER.

    The serial trainer appends each new (char, fv) pair to its bucket at
    first encounter, and 1-NN resolution keeps the FIRST minimum — so
    bucket-internal order is semantics, not cosmetics: a distance tie
    resolves to whichever pair was inserted earlier.  Each emitted pair
    therefore carries its (page, word, char) position; the per-group MIN of
    that triple is the pair's first serial encounter, and sorting by it
    reconstructs the serial bucket order exactly.  The artifact is
    bit-identical to train_serial on the same pages, ties included, at any
    parallelism."""
    from pyspark.sql import Row, functions as F  # local import: kernel stays Spark-free

    sc = spark.sparkContext

    def emit(ipage):
        pidx, page_lines = ipage
        gt_words = [w for ln in page_lines for w in ln.split()]
        img, _ = compose_text_image(page_lines)
        wi = 0
        out = []
        # full inference path (deskew on) — must match train_serial exactly
        for word_img, cuts, _li in iter_words(img, skip_deskew=False):
            fvs = batch_get_feat_vectors(word_img, cuts)
            if wi < len(gt_words):
                word = gt_words[wi]
                if len(word) == sum(1 for fv in fvs if fv != []):
                    rev = list(reversed(fvs))
                    for i, ch in enumerate(word):
                        if validate_fv(ch, rev[i]):
                            out.append(
                                (int(rev[i][0]), ch, [float(x) for x in rev[i]], pidx, wi, i)
                            )
            wi += 1
        return out

    rows = sc.parallelize(list(enumerate(pages)), max(2, min(len(pages), 64))).flatMap(emit)
    df = spark.createDataFrame(
        rows.map(lambda t: Row(score=t[0], char=t[1], fv=t[2], p=t[3], w=t[4], c=t[5]))
    )
    pairs = (
        df.withColumn("fv_key", F.concat_ws(",", F.col("fv").cast("array<string>")))
        .groupBy("score", "char", "fv_key")
        .agg(F.min(F.struct("p", "w", "c")).alias("seq"), F.first("fv").alias("fv"))
        .select("score", "char", "fv", "seq")
        .collect()
    )
    raw: dict = {}
    for r in sorted(pairs, key=lambda r: (r.seq.p, r.seq.w, r.seq.c)):
        raw.setdefault(str(r.score), []).append([r.char, list(r.fv)])
    model = CharModel.from_raw(raw)
    if out_path:
        model.save(out_path)
    return model
