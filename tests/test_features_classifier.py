"""Feature extraction + 1-NN classifier semantics (SURVEY.md §2.6)."""

import json
import os

import numpy as np
import pytest

from arabic_ocr_spark.kernel.classifier import CharModel, match_feat_to_char
from arabic_ocr_spark.kernel.components import label_components, largest_label
from arabic_ocr_spark.kernel.features import (
    add_extra_padding,
    batch_get_feat_vectors,
    eliminate_extra_padding,
    horizontal_transitions,
    recognize_char,
    recognize_dots,
    vertical_transitions,
)


def _img(art):
    rows = art.strip().splitlines()
    return np.array([[255 if c == "X" else 0 for c in r] for r in rows], dtype=np.uint8)


def test_transitions_counts():
    img = _img(
        """
X.X
.X.
X.X
"""
    )
    assert vertical_transitions(img).tolist() == [2.0, 2.0, 2.0]
    assert horizontal_transitions(img).tolist() == [2.0, 2.0, 2.0]


def test_eliminate_extra_padding_single_row_quirk():
    img = np.zeros((5, 5))
    img[2, 1:4] = 255
    out = eliminate_extra_padding(img)
    # single nonzero row: the 'last' bound stays -1 -> empty crop (reference quirk)
    assert out.shape[0] == 0


def test_add_extra_padding_shape_and_dtype():
    out = add_extra_padding(np.full((2, 3), 255, dtype=np.uint8))
    assert out.shape == (4, 5)
    assert out.dtype == np.float64
    assert out[0].sum() == 0 and out[-1].sum() == 0


def test_box_has_hole():
    img = _img(
        """
XXXXX
X...X
X...X
X...X
XXXXX
"""
    )
    fv = recognize_char(img)
    assert fv[8] == 1  # has_hole
    assert fv[0] >= 1  # HOLE contributes +1 per labeled point
    assert fv[1] == 2  # square form


def _dots(img):
    # recognize_char's labelling: the body is the largest component
    n, labels, sizes = label_components(img)
    return recognize_dots(img, labels, largest_label(sizes, n))


def test_recognize_dots_positions():
    top = _img(
        """
.X...
.....
XXXX.
XXXX.
XXXX.
"""
    )
    pos, exists, n = _dots(top)
    assert (pos, exists, n) == (1, 1, 1)
    bottom = _img(
        """
XXXX.
XXXX.
XXXX.
.....
.X...
"""
    )
    pos, exists, n = _dots(bottom)
    assert (pos, exists, n) == (3, 1, 1)
    none = _img(
        """
XXXX
XXXX
XXXX
"""
    )
    assert _dots(none) == (-1, 0, 0)


def test_recognize_dots_two_dots():
    img = _img(
        """
.X.X..
......
XXXXX.
XXXXX.
XXXXX.
"""
    )
    pos, exists, n = _dots(img)
    assert (pos, exists, n) == (1, 1, 2)


def test_batch_merges_empty_segments():
    word = np.zeros((6, 20), dtype=np.uint8)
    word[1:5, 6:10] = 255  # one 4x4 blob
    # cuts at 3 (empty left), 12 (after blob), 16 (empty)
    fvs = batch_get_feat_vectors(word, [3, 12, 16])
    assert len(fvs) == 1  # empty segments merge; single glyph -> single fv


def test_classifier_first_minimum_and_missing_bucket():
    raw = {
        "5": [["A", [5, 1, 0, 0, 0, 0, 0, 0, 0]], ["B", [5, 1, 0, 0, 0, 0, 0, 0, 0]]],
        "7": [["C", [7, 0, 0, 0, 0, 0, 0, 0, 0]]],
    }
    model = CharModel.from_raw(raw)
    # tie -> first entry in bucket order wins
    out = match_feat_to_char(model, [[5, 1, 0, 0, 0, 0, 0, 0, 0]])
    assert out == "A"
    # missing bucket -> char dropped
    out = match_feat_to_char(model, [[9, 0, 0, 0, 0, 0, 0, 0, 0], [7, 0, 0, 0, 0, 0, 0, 0, 0]])
    assert out == "C"  # reversed order: the 7-fv is consumed first... and 9 dropped


def test_classifier_reverses_and_replaces_composites():
    raw = {
        "1": [["L", [1, 0, 0, 0, 0, 0, 0, 0, 0]]],
        "2": [["a", [2, 0, 0, 0, 0, 0, 0, 0, 0]]],
    }
    model = CharModel.from_raw(raw)
    # fvs left-to-right; reversed consumption -> 'a' then 'L' -> 'aلا'
    out = match_feat_to_char(model, [[1, 0, 0, 0, 0, 0, 0, 0, 0], [2, 0, 0, 0, 0, 0, 0, 0, 0]])
    assert out == "a" + "لا"


def test_model_save_load_roundtrip(tmp_path):
    raw = {"3": [["x", [3.0, 1.0, 12.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0]]]}
    model = CharModel.from_raw(raw)
    p = str(tmp_path / "m.json")
    model.save(p)
    again = CharModel.load(p)
    assert again.to_raw() == model.to_raw()
    assert again.n_pairs == 1


# ---------------------------------------------------------------------------
# interop with the reference's ACTUAL trained artifact
# (/root/reference/config_map.json; loader semantics integrator.py:163-170,
# nearest-neighbour scan integrator.py:173-200)
# ---------------------------------------------------------------------------

REFERENCE_MODEL = "/root/reference/config_map.json"


def _reference_scan(raw: dict, fv: list) -> str:
    """Serial mimic of the reference's match loop: strict-< linear scan
    (first minimum wins), early exit at distance 0, '' for missing buckets,
    composite replacement at the end."""
    score = str(fv[0])
    out = ""
    if score in raw:
        min_dist = 5265644664664
        for char, cfv in raw[score]:
            d = sum((a - b) ** 2 for a, b in zip(fv, cfv)) ** 0.5
            if d < min_dist:
                min_dist = d
                out = char
            if min_dist == 0:
                break
    return out.replace("L", "لا")


@pytest.mark.skipif(not os.path.exists(REFERENCE_MODEL), reason="reference artifact absent")
def test_reference_artifact_loads_with_pinned_shape():
    """On-disk format interchangeability: the reference's real 1.4 MB
    artifact loads through CharModel.from_raw with the documented shape."""
    with open(REFERENCE_MODEL, encoding="utf-8") as f:
        raw = json.load(f)
    model = CharModel.from_raw(raw)
    assert len(model.buckets) == 311
    assert model.n_pairs == 32151
    # every bucket restructures to an aligned (n x 9) float matrix
    for score, (mat, labels) in model.buckets.items():
        assert mat.shape == (len(labels), 9)


@pytest.mark.skipif(not os.path.exists(REFERENCE_MODEL), reason="reference artifact absent")
def test_reference_artifact_classification_parity():
    """1-NN results on the real artifact equal the reference's linear scan,
    including the first-minimum tie-break on its duplicated-fv buckets."""
    with open(REFERENCE_MODEL, encoding="utf-8") as f:
        raw = json.load(f)
    model = CharModel.from_raw(raw)

    probes = []
    for score in list(raw)[:40]:
        pairs = raw[score]
        probes.append(list(pairs[-1][1]))          # exact member -> distance 0 path
        fv = list(pairs[len(pairs) // 2][1])
        fv = [fv[0]] + [x + 0.5 for x in fv[1:]]   # off-manifold -> real argmin scan
        probes.append(fv)
    # a probe equidistant from >= 2 pairs with DIFFERENT labels pins the
    # first-minimum tie-break on real data
    tie_pinned = 0
    for score, pairs in raw.items():
        seen = {}
        for char, cfv in pairs:
            key = tuple(cfv)
            if key in seen and seen[key] != char:
                probes.append(list(cfv))
                tie_pinned += 1
                break
            seen.setdefault(key, char)
        if tie_pinned >= 3:
            break
    assert tie_pinned >= 1  # the real artifact does contain such ties

    for fv in probes:
        got = match_feat_to_char(model, [fv])
        want = _reference_scan(raw, fv)
        assert got == want, (fv, got, want)
