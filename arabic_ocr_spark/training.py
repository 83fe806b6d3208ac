"""Classifier training — serial bootstrap and distributed (Spark) variant.

Reproduces the reference's training mechanism (reference integrator.py:
102-160, segment_words.py:85-201): per word, extract feature vectors; reject
the word unless the non-empty fv count matches the ground-truth char count;
validate each char against its per-char predicate list; bucket accepted
(char, fv) pairs by str(score) with set-dedup semantics.

The reference accumulates the map serially across images, rewriting the JSON
after every file.  Both trainers here consume one per-page walker
(`_page_pairs`) that yields the accepted pairs in serial order and applies
one failure policy; the distributed variant runs it per page in Spark tasks,
keeps each distinct pair's first serial position, merges driver-side and
writes the artifact once — same result, any parallelism.
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


def _accepted_chars(feat_vects: list[list], word_str: str) -> list[tuple[int, str, list]] | None:
    """The word-acceptance rule (reference integrator.py:136-160): None when
    the segment count mismatches the word length (word rejected); otherwise
    the (char_index, char, fv) triples whose fv passes the char's
    validations.  feat_vects is consumed reversed; fvs come back as floats."""
    if len(word_str) != sum(1 for fv in feat_vects if fv != []):
        return None
    fvs = list(reversed(feat_vects))
    return [(i, ch, [float(x) for x in fvs[i]])
            for i, ch in enumerate(word_str) if validate_fv(ch, fvs[i])]


def _assign(char_map: dict, ch: str, fv: list) -> None:
    """Bucket (char, fv) by str(score) with set-dedup semantics."""
    bucket = char_map.setdefault(str(int(fv[0])), [])
    if [ch, fv] not in bucket:
        bucket.append([ch, fv])


def compare_and_assign(feat_vects: list[list], word_str: str, char_map: dict):
    """Reference semantics (integrator.py:136-160): returns -1 when the
    segment count mismatches the word length (word rejected); otherwise
    mutates and returns char_map."""
    accepted = _accepted_chars(feat_vects, word_str)
    if accepted is None:
        return -1
    for _i, ch, fv in accepted:
        _assign(char_map, ch, fv)
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


def train_words_for_alphabet(n_random: int = 60) -> list[list[str]]:
    """Deterministic training corpus: every glyph in isolation-context plus
    randomized words (seeded) for context coverage."""
    rng = np.random.default_rng(42)
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


def _page_pairs(lines: list[str], tally: list[int], angle: float | None = None):
    """The one training walker: composes a page (rotated by `angle` degrees
    when given) and yields (word_idx, char_idx, char, fv) for every pair it
    contributes, in serial order, through the full inference path (deskew
    on).  Adds the page's rejected and total word counts to tally[0] and
    tally[1].  A page whose segmentation raises keeps the pairs yielded
    before the failure and counts its remaining words as rejected."""
    gt_words = [w for ln in lines for w in ln.split()]
    img, _ = compose_text_image(lines)
    if angle is not None:
        from .sources.synth import rotate_page

        img = rotate_page(img, angle)
    wi = 0
    try:
        for word_img, cuts, _li in iter_words(img):
            tally[1] += 1
            accepted = None
            if wi < len(gt_words):
                accepted = _accepted_chars(batch_get_feat_vectors(word_img, cuts), gt_words[wi])
            if accepted is None:
                tally[0] += 1
            else:
                for i, ch, fv in accepted:
                    yield wi, i, ch, fv
            wi += 1
    except Exception:
        n = max(1, len(gt_words) - wi)
        tally[0] += n
        tally[1] += n


def train_serial(pages: Iterable[list[str]] | None = None,
                 skew_rounds: int = 0) -> tuple[dict, int, int]:
    """Serial trainer over composed fixture pages.

    skew_rounds > 0 adds passes over the SAME pages rotated by small seeded
    angles (extraction runs the real deskew): warped glyph variants enter
    the map with the clean pairs first, so clean-page recognition is
    unchanged (exact matches hit distance 0 on the earlier pairs) while
    skewed pages gain nearest neighbours.  The count-mismatch rejection
    keeps badly-resegmented words out.

    Returns (raw char_map, rejected_words, total_words)."""
    pages = list(pages) if pages is not None else train_words_for_alphabet()
    rng = np.random.default_rng(42 + 7)
    # clean pass first: min-area-rect tilts even straight pages with ragged
    # line ends by a fraction of a degree, so training must see exactly
    # what inference sees
    passes = [(lines, None) for lines in pages] + [
        (lines, float(rng.uniform(-3.0, 3.0))) for _round in range(skew_rounds) for lines in pages
    ]
    char_map: dict = {}
    tally = [0, 0]
    for lines, angle in passes:
        for _wi, _i, ch, fv in _page_pairs(lines, tally, angle):
            _assign(char_map, ch, fv)
    return char_map, tally[0], tally[1]


DEFAULT_SKEW_ROUNDS = 4


def build_model(out_path: str | None = None) -> CharModel:
    """Builds the committed classifier artifact: clean pass through the full
    inference path plus DEFAULT_SKEW_ROUNDS skew-augmented rounds (see
    train_serial)."""
    raw, rejected, total = train_serial(skew_rounds=DEFAULT_SKEW_ROUNDS)
    model = CharModel.from_raw(raw)
    if out_path:
        model.save(out_path)
    return model


def train_spark(spark, pages: list[list[str]]) -> CharModel:
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
        pidx, lines = ipage
        return [Row(score=int(fv[0]), char=ch, fv=fv, p=pidx, w=wi, c=i)
                for wi, i, ch, fv in _page_pairs(lines, [0, 0])]

    pages_rdd = sc.parallelize(list(enumerate(pages)), max(2, min(len(pages), 64)))
    df = spark.createDataFrame(pages_rdd.flatMap(emit))
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
    return CharModel.from_raw(raw)
