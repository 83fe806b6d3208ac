"""The per-payload extraction pipeline (pure NumPy — the function that runs
inside the Spark `mapInPandas` kernel AND as the serial test oracle).

Mirrors the reference's per-image flow (reference segment_words.py:214-231):
binarize+invert -> deskew -> line segmentation -> per line: baseline, word
separators, right-to-left word loop -> character cuts -> feature vectors ->
1-NN classification -> words accumulated as ``' ' + word`` (the extracted
string therefore carries the reference's leading space; lines top-to-bottom,
words right-to-left within a line).
"""

from __future__ import annotations

from collections.abc import Generator
from dataclasses import dataclass

import numpy as np

from .classifier import CharModel, match_feat_to_char
from .features import batch_get_feat_vectors
from .geometry import deskew
from .imgops import binarize_inv
from .segmentation import TemplateSpec, contour_seg, segment_lines, word_separators

__all__ = ["ExtractionResult", "extract_page", "iter_words"]


@dataclass
class ExtractionResult:
    text: str = ""
    n_lines: int = 0
    n_words: int = 0
    ok: bool = True
    err: str = ""


def iter_words(
    image: np.ndarray,
    templates: list[TemplateSpec] | None = None,
    skip_deskew: bool = False,
) -> Generator[tuple[np.ndarray, list, int], None, int]:
    """Grayscale page -> (word_image, char_cut_points, line_index) in the
    reference's processing order (lines top-down, words right-to-left).
    The generator's return value is the page's line count, lines without
    words included.  Word-level errors propagate; callers decide the
    failure policy."""
    binary = binarize_inv(image)
    if not skip_deskew:
        binary = deskew(binary)
    lines = segment_lines(binary)
    for line_idx, line in enumerate(lines):
        seps, baseline = word_separators(line)
        previous_width = line.shape[1]
        for i in range(len(seps) - 1, -1, -1):
            word = line[:, int(seps[i]):previous_width]
            previous_width = int(seps[i])
            yield word, contour_seg(word, baseline, templates), line_idx
    return len(lines)


def extract_page(
    image: np.ndarray | None,
    model: CharModel,
    templates: list[TemplateSpec] | None = None,
) -> ExtractionResult:
    """Full page extraction.  A page-level failure (degenerate projections,
    blank payload, reference-crash-equivalent states) yields ok=False with
    empty text — the serial oracle and the Spark kernel share this exact
    function, so per-turn equality is structural."""
    if image is None:
        return ExtractionResult(text="", ok=False, err="blank_payload")
    res = ExtractionResult()
    words = iter_words(image, templates)
    try:
        while True:
            try:
                word, cuts, _line_idx = next(words)
            except StopIteration as end:
                res.n_lines = end.value
                break
            res.text += " " + match_feat_to_char(model, batch_get_feat_vectors(word, cuts))
            res.n_words += 1
    except Exception as exc:  # reference-crash-equivalent turn
        return ExtractionResult(text="", ok=False, err=f"{type(exc).__name__}: {exc}")
    return res
