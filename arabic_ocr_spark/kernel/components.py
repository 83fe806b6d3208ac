"""8-connected component labeling (pure NumPy, run-based two-pass union-find).

Semantics match the reference's two uses of cv2.connectedComponentsWithStats
(reference train_recognition.py:7-55):

- labels: 0 = background, components numbered 1..n-1 in raster order of
  first encounter (deterministic; the reference's tie-break `sizes[i] >
  max_size` keeps the smallest label, so label order is part of the
  semantics);
- an all-background image has a single stats row, and the reference's
  `sizes[1]` access raises IndexError — `largest_label` reproduces that
  (callers rely on the exception to reject empty segments).
"""

from __future__ import annotations

import numpy as np

__all__ = ["label_components", "largest_label"]


def label_components(img: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """Label 8-connected foreground (nonzero) components.

    Returns (n_labels, labels, sizes) where n_labels counts the background,
    labels is int32 HxW, and sizes[k] is the pixel count of label k
    (sizes[0] = background count).

    One vectorized pass finds the runs; a plain-Python union-find merges
    them (min-root union, raster first-encounter labels).  The kernel's
    inputs are word and character slices of a few dozen runs, where
    per-call numpy overhead would dominate any vectorized merge."""
    h, w = img.shape
    fg = img != 0
    if not fg.any():
        return 1, np.zeros((h, w), dtype=np.int32), np.array([img.size], dtype=np.int64)

    # runs over the row-padded flat image (the sentinel column breaks runs
    # at row boundaries)
    wp = w + 1
    fgp = np.zeros((h, wp), dtype=np.int8)
    fgp[:, :w] = fg
    flat = fgp.ravel()
    d = np.empty(flat.shape, dtype=np.int8)
    d[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=d[1:])
    run_starts = np.flatnonzero(d == 1)
    run_ends = np.flatnonzero(d == -1)  # exclusive; sentinel guarantees closure
    rs = run_starts.tolist()
    re_ = run_ends.tolist()
    rows = (run_starts // wp).tolist()
    s_cols = (run_starts % wp).tolist()
    e_cols = (((run_ends - 1) % wp) + 1).tolist()
    n_runs = len(rs)
    parent = list(range(n_runs + 1))  # union-find over run ids (1-based)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    prev: list = []
    cur: list = []
    cur_row = -2
    for i in range(n_runs):
        y = rows[i]
        if y != cur_row:
            prev = cur if y == cur_row + 1 else []
            cur = []
            cur_row = y
        s = s_cols[i]
        e = e_cols[i]
        for ps, pe, pr in prev:
            if ps <= e and pe >= s:  # 8-connected overlap (ranges extended by 1)
                ra, rb = find(i + 1), find(pr)
                if ra != rb:
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        cur.append((s, e, i + 1))

    # relabel roots in raster order of first encounter (runs are raster-
    # ordered, so the first run whose root is r fixes r's final label)
    remap: dict[int, int] = {}
    labels_flat = np.zeros(h * wp, dtype=np.int32)
    sizes = [0]
    for i in range(n_runs):
        r = find(i + 1)
        lab = remap.get(r)
        if lab is None:
            lab = remap[r] = len(sizes)
            sizes.append(0)
        labels_flat[rs[i]:re_[i]] = lab
        sizes[lab] += re_[i] - rs[i]
    sizes[0] = img.size - sum(sizes)
    return len(sizes), labels_flat.reshape(h, wp)[:, :w], np.asarray(sizes, dtype=np.int64)


def largest_label(sizes: np.ndarray, n_labels: int) -> int:
    """Reference scan (train_recognition.py:17-22): start at label 1 (raises
    IndexError if there is no foreground component), strict > keeps the
    smallest label on size ties."""
    max_label = 1
    max_size = sizes[1]  # IndexError on background-only images, by design
    for i in range(2, n_labels):
        if sizes[i] > max_size:
            max_label = i
            max_size = sizes[i]
    return max_label
