"""External contour extraction (pure NumPy/Python).

Reproduces cv2.findContours(RETR_EXTERNAL, CHAIN_APPROX_NONE) semantics as
used by the reference's character segmenter (reference preprocess.py:278-324):
border following per Suzuki & Abe (1985) with the classic 8-neighbourhood
chain-code walk — clockwise initial probe from WEST, counter-clockwise
resumption — so the emitted point ORDER (including pixels revisited on
1-px spurs) matches the canonical implementation; downstream run-detection
over the point sequence depends on that order.

Contours are emitted one per 8-connected component, in raster order of each
component's first pixel, as (N, 2) int arrays of (x, y) points.  Area is the
shoelace polygon area over the point sequence (cv2.contourArea semantics).
"""

from __future__ import annotations

import numpy as np

from .components import label_components

__all__ = ["find_external_contours", "contour_area"]

# chain-code deltas, (dx, dy), counter-clockwise on screen (y down):
# 0=E, 1=NE, 2=N, 3=NW, 4=W, 5=SW, 6=S, 7=SE
_DELTAS = ((1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1), (0, 1), (1, 1))


def _trace_border(fg_bytes: bytes, stride: int, start: tuple[int, int]) -> list[tuple[int, int]]:
    """Follow the outer border of the component containing `start`
    (which must be its raster-first pixel, so its W neighbour is background).
    `fg_bytes` is the raveled uint8 foreground mask padded by one false ring
    (bounds checks become plain indexing; C-level bytes indexing in the
    tight probe loop is ~4x numpy scalar indexing), `stride` its padded
    width.  Returns the point sequence as (x, y) tuples in UNPADDED
    coordinates."""
    y0, x0 = start[0] + 1, start[1] + 1

    # per-direction flat-index deltas for the padded image
    flat_d = tuple(dy * stride + dx for dx, dy in _DELTAS)

    # initial probe: clockwise from WEST around the start pixel
    p0 = y0 * stride + x0
    s = s_end = 4
    i1 = None
    while True:
        s = (s - 1) & 7
        if fg_bytes[p0 + flat_d[s]]:
            i1 = p0 + flat_d[s]
            break
        if s == s_end:
            break
    if i1 is None:
        return [(x0 - 1, y0 - 1)]  # isolated pixel

    pts: list[tuple[int, int]] = []
    i3 = p0
    while True:
        # counter-clockwise probe around i3, starting just past direction s
        while True:
            s += 1
            i4 = i3 + flat_d[s & 7]
            if fg_bytes[i4]:
                break
        s &= 7
        pts.append((i3 % stride - 1, i3 // stride - 1))
        if i4 == p0 and i3 == i1:
            break
        i3 = i4
        s = (s + 4) & 7
    return pts


def find_external_contours(img: np.ndarray) -> list[np.ndarray]:
    """All outer borders of 8-connected foreground components, raster order
    of first pixels; each contour is an (N, 2) int64 array of (x, y)."""
    n, labels, _ = label_components(img)
    if n <= 1:
        return []
    fgp = np.zeros((img.shape[0] + 2, img.shape[1] + 2), dtype=np.uint8)
    fgp[1:-1, 1:-1] = img != 0
    contours: list[np.ndarray] = []
    flat = labels.ravel()
    w = img.shape[1]
    # raster-first pixel per label, vectorized: reversed assignment makes
    # the earliest index win
    nz = np.flatnonzero(flat)[::-1]
    first_idx = np.full(n, -1, dtype=np.int64)
    first_idx[flat[nz]] = nz
    fg_bytes = fgp.tobytes()  # shared by all traces
    for lbl in range(1, n):
        idx = first_idx[lbl]
        pts = _trace_border(fg_bytes, w + 2, (int(idx // w), int(idx % w)))
        contours.append(np.asarray(pts, dtype=np.int64))
    return contours


def contour_area(cnt: np.ndarray) -> float:
    """Shoelace polygon area of the point sequence (cv2.contourArea)."""
    if len(cnt) < 3:
        return 0.0
    x = cnt[:, 0].astype(np.float64)
    y = cnt[:, 1].astype(np.float64)
    cross = float(np.dot(x[:-1], y[1:]) - np.dot(y[:-1], x[1:]))
    cross += float(x[-1] * y[0] - y[-1] * x[0])  # closing edge
    return 0.5 * abs(cross)
