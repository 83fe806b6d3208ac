"""Elementary image operators (pure NumPy).

Each function reproduces the observable semantics of one stage of the
reference pipeline (see SURVEY.md §2.2); the cv2 calls the reference makes
are re-derived from the published OpenCV definitions:

- binarize/invert: fixed threshold 127 (reference utils.py:29-39).
- projections: int32 row/column sums (reference preprocess.py:14-30).
- baseline: first argmax of the horizontal projection (preprocess.py:8-11).
- dilate 3x3: max filter == OR of 8-neighbour shifts (segment_words.py:20).
- most_frequent: mode excluding 0 when 0 wins (utils.py:9-19), by bincount.
- zero-run gap scan: the reference's hand-rolled run finder over a
  projection (segment_words.py:24-41, :125-145; preprocess.py:283-305),
  vectorized but numerically identical (gap centre = float mean of the run's
  row/col indices; a zero-run still open at the end of the axis is dropped).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "binarize",
    "binarize_inv",
    "to_grayscale",
    "horizontal_projection",
    "vertical_projection",
    "baseline_y",
    "dilate3x3",
    "most_frequent",
    "zero_run_gaps",
]


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """BGR -> gray with OpenCV's fixed coefficients; pass-through for 2-D."""
    if img.ndim == 2:
        return img
    # cv2 BGR2GRAY: Y = 0.299 R + 0.587 G + 0.114 B, rounded half away from 0
    b = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    r = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    return np.floor(y + 0.5).astype(np.uint8)


def binarize(img: np.ndarray) -> np.ndarray:
    """THRESH_BINARY @127: >127 -> 255 else 0."""
    return ((img > 127) * np.uint8(255)).astype(np.uint8)


def binarize_inv(img: np.ndarray) -> np.ndarray:
    """gray + THRESH_BINARY_INV @127: >127 -> 0 else 255 (ink becomes 255)."""
    gray = to_grayscale(img)
    return ((gray <= 127) * np.uint8(255)).astype(np.uint8)


def horizontal_projection(img: np.ndarray) -> np.ndarray:
    """Per-row pixel sum, int32, shape (H,)."""
    return img.sum(axis=1, dtype=np.int32)


def vertical_projection(img: np.ndarray) -> np.ndarray:
    """Per-column pixel sum, int32, shape (W,)."""
    return img.sum(axis=0, dtype=np.int32)


def baseline_y(hp: np.ndarray) -> int:
    """Index of the FIRST maximum of the horizontal projection."""
    return int(np.argmax(hp))


def dilate3x3(img: np.ndarray) -> np.ndarray:
    """3x3 dilation (max filter), border value 0 — matches cv2.dilate with a
    ones((3,3)) kernel on a binary image."""
    h, w = img.shape
    padded = np.zeros((h + 2, w + 2), dtype=img.dtype)
    padded[1:-1, 1:-1] = img
    out = padded[1:-1, 1:-1].copy()
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == 0 and dx == 0:
                continue
            np.maximum(out, padded[1 + dy:h + 1 + dy, 1 + dx:w + 1 + dx], out)
    return out


def most_frequent(arr: np.ndarray) -> int:
    """Mode of a non-negative int array (smallest value on ties: argmax
    keeps the first maximum, as the reference's sorted-unique count does);
    if the mode is 0, the mode of the nonzero values.  An all-zero input
    raises the reference's ValueError (argmax of an empty sequence)."""
    counts = np.bincount(arr)
    most_freq = int(np.argmax(counts))
    if most_freq == 0:
        most_freq = int(np.argmax(counts[1:])) + 1
    return most_freq


def zero_run_gaps(projection: np.ndarray) -> tuple[list[float], list[int]]:
    """Find maximal runs of zeros in a projection.

    Returns (centres, widths): for each zero-run that is CLOSED by a
    following nonzero entry, centre = float mean of the run's indices and
    width = run length.  A run still open at the end of the axis is dropped
    (the reference's scan only emits on the zero->nonzero edge).
    """
    z = projection == 0
    if not z.any():
        return [], []
    zi = z.astype(np.int8)
    # transitions: +1 where a zero-run starts, -1 one past where it ends
    diff = np.diff(np.concatenate(([0], zi, [0])))
    starts = np.flatnonzero(diff == 1)
    ends = np.flatnonzero(diff == -1)  # exclusive
    n = len(projection)
    # a run reaching the end of the axis is never closed -> dropped;
    # centre = float mean of indices s..e-1 == sum/count of the reference
    keep = ends != n
    s, e = starts[keep], ends[keep]
    return ((s + e - 1) * 0.5).tolist(), (e - s).tolist()
