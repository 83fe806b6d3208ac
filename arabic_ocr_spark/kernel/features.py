"""Character feature extraction (pure NumPy/Python).

Reproduces the reference's 9-slot feature vector
[score, char_form, corvar, expunc, pospunc, numpunc, hmax, vmax, has_hole]
(SURVEY.md §2.6; reference train_recognition.py:58-368), including the
order-dependent interest-point labeling (a blocked-direction ray DELETES
other interest points it crosses, while the list is being iterated — the
skip-on-removal iteration semantics are part of the observable behaviour)
and the empty-segment rejection in the per-word batch featurizer (an empty
feature vector does not advance the segment start, merging over-segmented
slices into their right neighbour).
"""

from __future__ import annotations

import numpy as np

from .components import label_components, largest_label

__all__ = [
    "vertical_transitions",
    "horizontal_transitions",
    "get_interest_points",
    "label_interest_points",
    "eliminate_extra_padding",
    "add_extra_padding",
    "recognize_dots",
    "recognize_char",
    "batch_get_feat_vectors",
]


def vertical_transitions(img: np.ndarray) -> np.ndarray:
    """Per-column count of value changes going down (float array, len W)."""
    if img.shape[0] < 2:
        return np.zeros(img.shape[1])
    return (img[1:, :] != img[:-1, :]).sum(axis=0).astype(np.float64)


def horizontal_transitions(img: np.ndarray) -> np.ndarray:
    """Per-row count of value changes going right (float array, len H)."""
    if img.shape[1] < 2:
        return np.zeros(img.shape[0])
    return (img[:, 1:] != img[:, :-1]).sum(axis=1).astype(np.float64)


def get_interest_points(transitions_columns: np.ndarray, transitions_rows: np.ndarray, img: np.ndarray) -> list[tuple[int, int]]:
    """Midpoints of first/last transition per >=4-transition column (then
    row), kept when the midpoint pixel is background. Columns first, then
    rows — the list order feeds the order-dependent labeling.

    Vectorized: first/last transition per line via argmax over the change
    mask and its reverse (a >=4-transition line always has changes, so
    argmax is well-defined)."""
    pts: list[tuple[int, int]] = []
    h, w = img.shape

    cols = np.flatnonzero(transitions_columns >= 4)
    if len(cols) and h >= 2:
        C = img[1:, cols] != img[:-1, cols]  # change at row k means transition index k+1
        first = C.argmax(axis=0) + 1
        last = (h - 1) - C[::-1, :].argmax(axis=0)
        mid = (first + last) // 2
        ok = img[mid, cols] == 0
        pts.extend(zip(mid[ok].tolist(), cols[ok].tolist()))

    rows = np.flatnonzero(transitions_rows >= 4)
    if len(rows) and w >= 2:
        R = img[rows, 1:] != img[rows, :-1]
        first = R.argmax(axis=1) + 1
        last = (w - 1) - R[:, ::-1].argmax(axis=1)
        mid = (first + last) // 2
        ok = img[rows, mid] == 0
        pts.extend(zip(rows[ok].tolist(), mid[ok].tolist()))
    return pts


_N = (-1, 0)
_S = (1, 0)
_E = (0, 1)
_W = (0, -1)
_NE = (-1, 1)
_NW = (-1, -1)
_SE = (1, 1)
_SW = (1, -1)
_DIRECTIONS = [_N, _S, _E, _W, _NE, _NW, _SE, _SW]


def label_interest_points(interest_points: list[tuple[int, int]], w: int, h: int, img: np.ndarray) -> list[tuple[tuple[int, int], str]]:
    """Cast 8 rays per interest point; blocked in all 8 -> HOLE, else a
    concavity class by which sides are blocked.  Rays REMOVE other interest
    points they pass through, mutating the list mid-iteration (so the
    iterator skips the element after each removal) — reproduced verbatim."""
    labeled: list[tuple[tuple[int, int], str]] = []
    for pt in interest_points:
        blocked = []
        for d in _DIRECTIONS:
            cur = (pt[0] + d[0], pt[1] + d[1])
            while h > cur[0] and w > cur[1] and cur[0] >= 0 and cur[1] >= 0:
                if cur in interest_points:
                    interest_points.remove(cur)
                if img[cur[0]][cur[1]] == 255:
                    blocked.append(d)
                    break
                cur = (cur[0] + d[0], cur[1] + d[1])

        if len(blocked) == len(_DIRECTIONS):
            if (pt, "HOLE") not in labeled:
                labeled.append((pt, "HOLE"))
        else:
            label = "CONC"
            if _W not in blocked:
                label = "L_CONC"
            elif _W in blocked and _S in blocked and _E in blocked and (
                _N not in blocked or _NE not in blocked or _NW not in blocked
            ):
                label = "U_CONC"
            elif _E not in blocked:
                label = "R_CONIC"
            elif _W in blocked and _N in blocked and _E in blocked and (
                _S not in blocked or _SE not in blocked or _SW not in blocked
            ):
                label = "D_CONIC"
            if (pt, label) not in labeled:
                labeled.append((pt, label))
    return labeled


def eliminate_extra_padding(img: np.ndarray) -> np.ndarray:
    """Crop to the bounding box of nonzero rows/cols — with the reference's
    single-nonzero-row/col behaviour (the 'last' bound stays -1, yielding an
    empty crop, which rejects degenerate segments downstream)."""
    nz_r = np.flatnonzero(img.any(axis=1))  # == sum>0: pixel values are non-negative
    nz_c = np.flatnonzero(img.any(axis=0))
    upper_x = int(nz_r[0]) if len(nz_r) else -1
    lower_x = int(nz_r[-1]) if len(nz_r) > 1 else -1
    upper_y = int(nz_c[0]) if len(nz_c) else -1
    lower_y = int(nz_c[-1]) if len(nz_c) > 1 else -1
    return img[upper_x:lower_x + 1, upper_y:lower_y + 1]


def add_extra_padding(char_img: np.ndarray) -> np.ndarray:
    """1-px zero border (float result, as np.zeros defaults to float64)."""
    out = np.zeros((char_img.shape[0] + 2, char_img.shape[1] + 2))
    out[1:-1, 1:-1] = char_img
    return out


def _is_hamza(dots_img: np.ndarray) -> bool:
    return bool(np.max(vertical_transitions(dots_img)) >= 4)


def _is_3_dots_connected(dots_img: np.ndarray) -> bool:
    return bool(np.max(horizontal_transitions(dots_img)) >= 4)


def recognize_dots(char_img: np.ndarray, labels: np.ndarray, body: int) -> tuple[int, int, int]:
    """(position, exists, n_dots) of the diacritics: position 1=top / 2=mid /
    3=bottom by comparing extremal nonzero rows of the full char vs the
    dots-only label image; hamza -> 5 labels, connected 3-dots -> 4.

    labels/body: `char_img`'s component labelling and its largest label
    (the reference's `get_largest_connected_component`, which zeroes the
    body in the label image and keeps the raw dot labels)."""
    dots_img = labels.copy()
    dots_img[dots_img == body] = 0
    max_label = int(max(np.max(dots_img), body))
    if max_label == 1:
        return -1, 0, 0
    if max_label == 2:
        if _is_hamza(dots_img):
            max_label = 5
        elif _is_3_dots_connected(dots_img):
            max_label = 4

    horizontal_sums = np.sum(char_img, axis=1)
    nz = np.flatnonzero(horizontal_sums)
    char_highest_point = int(nz[0]) if len(nz) else -1

    dots_horz_sum = np.sum(dots_img, axis=1)
    dnz = np.flatnonzero(dots_horz_sum)
    lowest_dots_point = int(dnz[-1]) if len(dnz) else -1
    highest_dots_point = int(dnz[0]) if len(dnz) else -1

    if char_highest_point == highest_dots_point:
        return 1, 1, max_label - 1
    char_lowest_point = int(nz[-1]) if len(nz) else -1
    if char_lowest_point == lowest_dots_point:
        return 3, 1, max_label - 1
    return 2, 1, max_label - 1


def recognize_char(char_img: np.ndarray) -> list:
    """Character segment -> 9-slot feature vector, or [] for degenerate
    segments (the empty-segment rejection that self-corrects
    over-segmentation).  May raise on all-background segments (the caller's
    try/except treats that as rejection too)."""
    img_dotted = char_img.copy()
    # single labeling pass shared by the dots-removal and dots-recognition
    # stages (the reference labels the same image twice)
    n_l, labels, sizes = label_components(char_img)
    body = largest_label(sizes, n_l)  # IndexError on empty, by design
    dotless = np.zeros(labels.shape)
    dotless[labels == body] = 255
    char_img = add_extra_padding(dotless.astype(np.uint8))

    horz_transitions = horizontal_transitions(char_img)
    ver_transitions = vertical_transitions(char_img)

    interest_pts = get_interest_points(ver_transitions, horz_transitions, char_img)
    labeled_pts = label_interest_points(interest_pts, char_img.shape[1], char_img.shape[0], char_img)

    score = 0
    has_hole = 0
    for _pt, label in labeled_pts:
        if label == "HOLE":
            score += 1
            has_hole = 1
        if label == "L_CONC":
            score += 4
        if label == "R_CONIC":
            score += 4**2
        if label == "U_CONC":
            score += 4**3
        if label == "D_CONIC":
            score += 4**4

    char_img = eliminate_extra_padding(img_dotted)
    if char_img.shape[0] * char_img.shape[1] < 2:
        return []
    # both sides are >= 1 from here on: the ratio and the corners exist
    form_ratio = char_img.shape[0] / char_img.shape[1]

    char_form = -1
    if form_ratio < 0.8:
        char_form = 1
    if 0.8 <= form_ratio < 1.2:
        char_form = 2
    if form_ratio > 1.2:
        char_form = 3

    h, w = char_img.shape
    corvar = (
        (char_img[0][0] / 255) * 1
        + (char_img[0][w - 1] / 255) * 2
        + (char_img[h - 1][w - 1] / 255) * 4
        + (char_img[h - 1][0] / 255) * 8
    )

    pospunc, expunc, numpunc = recognize_dots(img_dotted, labels, body)
    hmax = np.max(horz_transitions)
    vmax = np.max(ver_transitions)
    if hmax < 4:
        hmax = 0
    if vmax < 4:
        vmax = 0
    return [score, char_form, corvar, expunc, pospunc, numpunc, hmax, vmax, has_hole]


def batch_get_feat_vectors(word: np.ndarray, idxes: list) -> list[list]:
    """Slice the word at the cut positions and featurize each slice; an
    empty/failed feature vector does not advance the slice start (segments
    merge rightward across rejected cuts) — reference
    train_recognition.py:349-368 verbatim."""
    idxes = list(idxes) + [word.shape[1] - 1]
    feat_vectors: list[list] = []
    last_idx = 0
    for idx in idxes:
        idx = int(idx)
        last_idx = int(last_idx)
        try:
            fv = recognize_char(word[:, last_idx:idx])
            if fv != []:
                feat_vectors.append(fv)
                last_idx = idx
        except Exception:
            pass
    return feat_vectors
