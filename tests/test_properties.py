"""Property-based tests (hypothesis): kernel operators vs naive reference
implementations on randomized inputs."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from arabic_ocr_spark.kernel.components import label_components
from arabic_ocr_spark.kernel.contours import contour_area, find_external_contours
from arabic_ocr_spark.kernel.imgops import zero_run_gaps
from arabic_ocr_spark.kernel.segmentation import distance_between_words
from arabic_ocr_spark.sources.codec import decode_payload, encode_payload

small_binary = arrays(np.uint8, st.tuples(st.integers(1, 12), st.integers(1, 12)),
                      elements=st.sampled_from([0, 255]))
# dense noise up to 40x40: hundreds of runs per image, far more than the
# kernel's word slices hold, so the union-find sees long merge chains
large_binary = st.builds(
    lambda h, w, p, seed: ((np.random.default_rng(seed).random((h, w)) < p) * 255).astype(np.uint8),
    st.integers(20, 40), st.integers(20, 40), st.floats(0.2, 0.8), st.integers(0, 2**32 - 1),
)


@given(st.lists(st.integers(0, 3), min_size=1, max_size=40))
@settings(max_examples=200, deadline=None)
def test_zero_run_gaps_matches_naive_scan(vals):
    p = np.array(vals)
    # naive transliteration of the reference scan (segment_words.py:24-41)
    y = count = 0
    is_space = False
    centres, widths = [], []
    for i in range(len(p)):
        if not is_space:
            if p[i] == 0:
                is_space = True
                count = 1
                y = i
        else:
            if p[i] > 0:
                is_space = False
                centres.append(y / count)
                widths.append(count)
            else:
                y += i
                count += 1
    got_c, got_w = zero_run_gaps(p)
    assert got_c == centres and got_w == widths


@given(st.one_of(small_binary, large_binary))
@settings(max_examples=150, deadline=None)
def test_label_components_matches_bfs(img):
    n, labels, sizes = label_components(img)
    # naive BFS 8-conn labeling in raster-first order
    h, w = img.shape
    seen = np.zeros((h, w), dtype=bool)
    comps = []
    for y in range(h):
        for x in range(w):
            if img[y, x] and not seen[y, x]:
                stack = [(y, x)]
                seen[y, x] = True
                comp = []
                while stack:
                    cy, cx = stack.pop()
                    comp.append((cy, cx))
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            ny, nx = cy + dy, cx + dx
                            if 0 <= ny < h and 0 <= nx < w and img[ny, nx] and not seen[ny, nx]:
                                seen[ny, nx] = True
                                stack.append((ny, nx))
                comps.append(comp)
    assert n == len(comps) + 1
    for k, comp in enumerate(comps, start=1):
        assert sizes[k] == len(comp)
        for (y, x) in comp:
            assert labels[y, x] == k


@given(small_binary)
@settings(max_examples=100, deadline=None)
def test_contours_are_connected_loops(img):
    for cnt in find_external_contours(img):
        assert contour_area(cnt) >= 0.0
        if len(cnt) > 1:
            closed = np.vstack([cnt, cnt[:1]])
            steps = np.abs(np.diff(closed, axis=0))
            assert steps.max() <= 1  # consecutive points are 8-adjacent
        # every contour point is foreground
        for x, y in cnt:
            assert img[y, x] != 0


@given(st.lists(st.integers(1, 12), min_size=3, max_size=25))
@settings(max_examples=200, deadline=None)
def test_distance_between_words_matches_reference_formula(distances):
    inner = distances[1:-1]
    srt = sorted(inner, key=inner.count, reverse=True)
    uniq = []
    for v in srt:
        if v not in uniq:
            uniq.append(v)
    top = uniq[:3]
    expected = min(top) + math.floor(max(top) / 4)
    assert distance_between_words(distances) == expected


@given(arrays(np.uint8, st.tuples(st.integers(1, 30), st.integers(1, 30)),
              elements=st.integers(0, 255)))
@settings(max_examples=100, deadline=None)
def test_codec_roundtrip(img):
    out = decode_payload(encode_payload(img))
    assert np.array_equal(out, img)


@given(st.text(max_size=60))
@settings(max_examples=150, deadline=None)
def test_codec_garbage_never_raises(s):
    assert decode_payload(s) is None or isinstance(decode_payload(s), np.ndarray)
