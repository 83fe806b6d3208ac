"""Deterministic synthetic glyph alphabet + page composer (pure NumPy).

The engine's classifier is trained on OUR alphabet (the reference trains on
real Arabic scans; the mechanism — score-bucketed 1-NN over 9-dim shape
features — is what we reproduce, per FIXTURES.md §3).  Glyphs are designed
against the pipeline's segmentation invariants:

- each glyph body is one 8-connected component with its BOTTOM row strictly
  wider than any other row (so the line baseline = the common bottom row);
- diacritic dots are single pixels (contour area 0 -> they contribute no
  character cuts) placed within the body's column span;
- multi-pixel marks (hamza-like, connected-3-dots bar) are LEFT-ALIGNED
  with the body so their contour's leftmost-x cut duplicates the body's;
- glyphs are separated by 2-px gaps (sub-word cuts), words by 8-px gaps,
  and every column touching the baseline band keeps ink in
  [baseline/2, baseline-1) so no spurious baseline-run cut survives the
  candidate filter.

Pages are composed Arabic-style: within a line, word[0] is the RIGHTMOST
word and each word's char[0] is its rightmost glyph.
"""

from __future__ import annotations

import numpy as np

__all__ = ["GLYPHS", "ALPHABET", "render_word", "render_line", "render_page", "compose_text_image"]

# layout constants (pixels)
GLYPH_GAP = 2      # intra-word gap between glyphs
WORD_GAP = 8       # inter-word gap
LEFT_MARGIN = 6
RIGHT_MARGIN = 6
TOP_MARGIN = 4
BOTTOM_MARGIN = 5
LINE_GAP = 5       # zero rows between line cells (pre-dilation)
CELL_H = 16        # glyph cell height; baseline sits at row BASELINE_ROW
BASELINE_ROW = 12  # bottom row of every glyph body within the cell
# rows 13..15 reserved for below-baseline dots


def _bitmap(art: str) -> np.ndarray:
    rows = [r for r in art.strip("\n").splitlines()]
    w = max(len(r) for r in rows)
    out = np.zeros((len(rows), w), dtype=np.uint8)
    for y, r in enumerate(rows):
        for x, c in enumerate(r):
            if c == "X":
                out[y, x] = 1
    return out


# ---------------------------------------------------------------------------
# body shapes (ink=1).  Bottom row strictly widest.  Heights vary for form
# ratio diversity; every mid column that reaches the baseline keeps ink in
# the protected band.
# ---------------------------------------------------------------------------

_BODIES = {
    # tall thin bar (form 3, score 0)
    "alef": _bitmap(
        """
.XX.
.XX.
.XX.
.XX.
.XX.
.XX.
.XX.
XXXX
XXXX
XXXX
"""
    ),
    # closed box (hole)
    "box": _bitmap(
        """
XXXXXX
XX..XX
XX..XX
XXXXXX
XXXXXX
XXXXXX
"""
    ),
    # wide box with two side-by-side holes (form 1, hmax 6)
    "tbox": _bitmap(
        """
XXXXXXXX
XX.XX.XX
XX.XX.XX
XXXXXXXX
XXXXXXXX
XXXXXXXX
"""
    ),
    # cup: thick bottom slab + side walls (up-concavity, slab protects band)
    "cup": _bitmap(
        """
XX...XX
XX...XX
XX...XX
XXXXXXX
XXXXXXX
XXXXXXX
XXXXXXX
"""
    ),
    # gate: thick top slab + legs joined by a thick base (wide: form 1)
    "gate": _bitmap(
        """
XXXXXXXXX
XXXXXXXXX
XX.....XX
XX.....XX
XXXXXXXXX
XXXXXXXXX
XXXXXXXXX
"""
    ),
    # comb: three teeth on a thick base (many horizontal transitions)
    "comb": _bitmap(
        """
XX.XX.XX
XX.XX.XX
XX.XX.XX
XXXXXXXX
XXXXXXXX
XXXXXXXX
"""
    ),
    # steps: staircase (mixed transitions)
    "step": _bitmap(
        """
XXX.....
XXX.....
XXXXX...
XXXXXXXX
XXXXXXXX
XXXXXXXX
"""
    ),
    # low wide slab (form 1)
    "slab": _bitmap(
        """
XXXXXXX
XXXXXXX
XXXXXXX
"""
    ),
    # jay: stem on the RIGHT edge of a thick base (mirrored ell)
    "tee": _bitmap(
        """
....XX
....XX
....XX
....XX
XXXXXX
XXXXXX
XXXXXX
"""
    ),
    # ring: stem ABOVE a holed box (corvar 12, hole low)
    "ring": _bitmap(
        """
.XXX.
XXXXX
XX.XX
XXXXX
XXXXX
XXXXX
XXXXX
"""
    ),
    # double box (two holes stacked, vmax 6)
    "dbox": _bitmap(
        """
XXXXX
XX.XX
XXXXX
XX.XX
XXXXX
XXXXX
XXXXX
"""
    ),
    # ell: thick L
    "ell": _bitmap(
        """
XXX....
XXX....
XXX....
XXX....
XXXXXXX
XXXXXXX
XXXXXXX
"""
    ),
    # zig: S-like path on a base
    "zig": _bitmap(
        """
XXXXXX
XXXXXX
....XX
XXXXXX
XXXXXX
XX....
XXXXXX
XXXXXX
"""
    ),
    # wide gate with four teeth
    "crown": _bitmap(
        """
XX.XX.XX.XX
XX.XX.XX.XX
XX.XX.XX.XX
XXXXXXXXXXX
XXXXXXXXXXX
XXXXXXXXXXX
"""
    ),
}


# (body, dots) per label; dots: list of (position, count) with position in
# {"above", "below"}; marks: {"hamza", "bar3"} left-aligned multi-pixel marks
_GLYPH_DEFS: dict[str, tuple[str, list]] = {
    "a": ("alef", []),
    "b": ("box", []),
    "c": ("cup", []),
    "d": ("gate", []),
    "e": ("comb", []),
    "f": ("step", []),
    "g": ("slab", []),
    "h": ("tee", []),
    "i": ("ring", []),
    "j": ("dbox", []),
    "k": ("ell", []),
    "l": ("zig", []),
    "m": ("crown", []),
    "n": ("tbox", []),
    "o": ("box", [("above", 1)]),
    "p": ("box", [("above", 2)]),
    "q": ("cup", [("above", 1)]),
    "r": ("gate", [("below", 1)]),
    "s": ("slab", [("above", 1)]),
    "t": ("tee", [("below", 2)]),
    "u": ("gate", [("above", 3)]),
    "v": ("step", [("below", 1)]),
    "w": ("comb", [("above", 1)]),
    "x": ("ring", [("below", 1)]),
    "L": ("crown", [("above", 1)]),  # ligature sentinel -> 'لا'
}


def _render_glyph(label: str) -> np.ndarray:
    """Glyph cell (CELL_H x body_width) with body bottom row at BASELINE_ROW
    and dots placed 2 rows above the body top / below the baseline."""
    body_name, dots = _GLYPH_DEFS[label]
    body = _BODIES[body_name]
    bh, bw = body.shape
    # prepend a foot column: ink at the baseline row only, protruding LEFT
    # (strictly-widest bottom row -> the line baseline is the common bottom
    # row; protruding left makes the foot's spurious baseline-run cut
    # coincide with the glyph's leftmost-x cut, which is harmless)
    cell = np.zeros((CELL_H, bw + 1), dtype=np.uint8)
    top = BASELINE_ROW - bh + 1
    cell[top:BASELINE_ROW + 1, 1:] = body
    cell[BASELINE_ROW, 0] = 1
    for pos, count in dots:
        xs = [2 + 3 * k for k in range(count)]
        if pos == "above":
            row = top - 2
        else:
            row = BASELINE_ROW + 2
        for x in xs:
            if x + 1 <= bw:
                cell[row, x] = 1
                cell[row, x + 1] = 1
    return cell


GLYPHS: dict[str, np.ndarray] = {}
ALPHABET: list[str] = []


def _init() -> None:
    for label in _GLYPH_DEFS:
        GLYPHS[label] = _render_glyph(label)
        ALPHABET.append(label)


_init()


def render_word(word: str) -> np.ndarray:
    """Word string -> ink bitmap (CELL_H x width).  char[0] rendered at the
    RIGHT (Arabic-style right-to-left)."""
    cells = [GLYPHS[ch] for ch in reversed(word)]
    width = sum(c.shape[1] for c in cells) + GLYPH_GAP * (len(cells) - 1)
    out = np.zeros((CELL_H, width), dtype=np.uint8)
    x = 0
    for c in cells:
        out[:, x:x + c.shape[1]] = c
        x += c.shape[1] + GLYPH_GAP
    return out


MAX_GAP_STRETCH = 4   # per inter-word gap; keeps the frequency-derived word
                      # threshold below the smallest word gap
MAX_MARGIN_STRETCH = 20


def line_natural_width(words: list[str]) -> int:
    return LEFT_MARGIN + sum(
        sum(GLYPHS[ch].shape[1] for ch in w) + GLYPH_GAP * (len(w) - 1) for w in words
    ) + WORD_GAP * (len(words) - 1)


def render_line(words: list[str], justify_to: int | None = None) -> np.ndarray:
    """Words (reading order: words[0] is rendered RIGHTMOST) -> line bitmap
    including the left margin.

    justify_to: align the line's INK right edge to this width by growing
    inter-word gaps (bounded) then the left margin — real pages are
    justified blocks, and a near-rectangular ink hull keeps the deskew
    stage's min-area rectangle axis-aligned."""
    bitmaps = [render_word(w) for w in reversed(words)]
    natural = LEFT_MARGIN + sum(b.shape[1] for b in bitmaps) + WORD_GAP * (len(bitmaps) - 1)
    margin = LEFT_MARGIN
    gaps = [WORD_GAP] * max(0, len(bitmaps) - 1)
    if justify_to is not None and justify_to > natural:
        extra = justify_to - natural
        for i in range(len(gaps)):
            take = min(MAX_GAP_STRETCH, extra)
            gaps[i] += take
            extra -= take
        margin += min(MAX_MARGIN_STRETCH, extra)
    width = margin + sum(b.shape[1] for b in bitmaps) + sum(gaps)
    out = np.zeros((CELL_H, width), dtype=np.uint8)
    x = margin
    for i, b in enumerate(bitmaps):
        out[:, x:x + b.shape[1]] = b
        x += b.shape[1] + (gaps[i] if i < len(gaps) else 0)
    return out


def render_page(lines: list[list[str]]) -> np.ndarray:
    """Lines of words -> grayscale page image (uint8: paper=255, ink=0),
    ready for the binarize-invert front of the pipeline.  Every line's ink
    right edge is aligned to the widest line (as far as the bounded
    gap/margin stretch allows)."""
    target = max(line_natural_width(ws) for ws in lines)
    line_bitmaps = [render_line(ws, justify_to=target) for ws in lines]
    width = max(b.shape[1] for b in line_bitmaps) + RIGHT_MARGIN
    height = TOP_MARGIN + sum(b.shape[0] for b in line_bitmaps) + LINE_GAP * (len(line_bitmaps) - 1) + BOTTOM_MARGIN
    ink = np.zeros((height, width), dtype=np.uint8)
    y = TOP_MARGIN
    for b in line_bitmaps:
        ink[y:y + b.shape[0], :b.shape[1]] = b
        y += b.shape[0] + LINE_GAP
    return np.where(ink > 0, np.uint8(0), np.uint8(255))


def compose_text_image(text_lines: list[str]) -> tuple[np.ndarray, str]:
    """Lines of space-separated words -> (page image, expected extraction).

    The expected string mirrors the reference's accumulation: words joined
    by a LEADING space each, lines top-to-bottom, words right-to-left
    within a line == reading order here (reference segment_words.py:188)."""
    lines = [ln.split() for ln in text_lines]
    img = render_page(lines)
    return img, expected_text_for(lines)


def expected_text_for(lines: list[list[str]]) -> str:
    expected = ""
    for ws in lines:
        for w in ws:
            expected += " " + w.replace("L", "لا")
    return expected


def compose_paragraph(rng, n_lines: int, target_width: int = 170) -> tuple[np.ndarray, str, list[list[str]]]:
    """Width-targeted random paragraph: each line greedily fills words until
    the natural width approaches target_width, then justification absorbs
    the remainder — producing the near-rectangular ink blocks real
    justified pages have (deskew-stable).  Words are 3-6 glyphs long."""
    lines: list[list[str]] = []
    for _ in range(n_lines):
        words: list[str] = []
        while True:
            w = "".join(rng.choice(ALPHABET, size=int(rng.integers(3, 7))))
            cand = words + [w]
            if line_natural_width(cand) > target_width:
                if words:
                    break
                # single word wider than target: keep it anyway
                words = cand
                break
            words = cand
            if target_width - line_natural_width(words) < 18:
                break
        lines.append(words)
    img = render_page(lines)
    return img, expected_text_for(lines), lines
