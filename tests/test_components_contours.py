"""Connected components + contour tracing semantics (SURVEY.md §2.9)."""

import numpy as np
import pytest

from arabic_ocr_spark.kernel.components import label_components, largest_label
from arabic_ocr_spark.kernel.contours import contour_area, find_external_contours


def _img(art):
    rows = art.strip().splitlines()
    return np.array([[255 if c == "X" else 0 for c in r] for r in rows], dtype=np.uint8)


def test_label_components_8conn_diagonal():
    img = _img(
        """
X..
.X.
..X
"""
    )
    n, labels, sizes = label_components(img)
    assert n == 2  # one component (diagonal touches are 8-connected)
    assert sizes[1] == 3


def test_label_components_raster_order():
    img = _img(
        """
.X.X
....
X...
"""
    )
    n, labels, sizes = label_components(img)
    assert n == 4
    assert labels[0, 1] == 1 and labels[0, 3] == 2 and labels[2, 0] == 3


def test_largest_label_raises_on_background_only():
    n, labels, sizes = label_components(np.zeros((3, 3), dtype=np.uint8))
    with pytest.raises(IndexError):
        largest_label(sizes, n)


def test_largest_label_tie_keeps_smallest():
    img = _img(
        """
XX.XX
"""
    )
    n, _labels, sizes = label_components(img)
    assert largest_label(sizes, n) == 1


def test_contour_single_row_strip_revisits():
    img = np.zeros((3, 5), dtype=np.uint8)
    img[1, 1:4] = 255
    cnts = find_external_contours(img)
    assert len(cnts) == 1
    # canonical emission: left-to-right then back, revisiting the middle
    assert cnts[0].tolist() == [[1, 1], [2, 1], [3, 1], [2, 1]]
    assert contour_area(cnts[0]) == 0.0


def test_contour_square_area_and_order():
    img = np.zeros((6, 6), dtype=np.uint8)
    img[1:4, 1:4] = 255  # 3x3 square
    cnts = find_external_contours(img)
    assert len(cnts) == 1
    pts = cnts[0]
    assert contour_area(pts) == 4.0  # shoelace over pixel centres
    assert len(pts) == 8
    assert pts[0].tolist() == [1, 1]  # raster-first pixel starts the trace
    # every consecutive pair is 8-adjacent and the loop closes
    diffs = np.abs(np.diff(np.vstack([pts, pts[:1]]), axis=0))
    assert diffs.max() == 1


def test_contour_external_only_ignores_hole():
    img = np.zeros((7, 7), dtype=np.uint8)
    img[1:6, 1:6] = 255
    img[3, 3] = 0  # interior hole: RETR_EXTERNAL must not emit it
    cnts = find_external_contours(img)
    assert len(cnts) == 1
    assert contour_area(cnts[0]) == 16.0


def test_contours_isolated_pixel():
    img = np.zeros((3, 3), dtype=np.uint8)
    img[1, 1] = 255
    cnts = find_external_contours(img)
    assert len(cnts) == 1 and cnts[0].tolist() == [[1, 1]]
