"""The reference's concrete pattern-template table, as data.

The reference hard-codes thirteen pattern PNGs (/root/reference/patterns/)
with per-template match thresholds and suppression actions
(/root/reference/preprocess.py:329-394).  Our engine generalizes the
mechanism into configurable TemplateSpecs (kernel/segmentation.py) because
the synthetic alphabet has different glyph shapes — but the reference's
exact (name, threshold, action) table is part of its observable tuning and
is preserved here verbatim for fidelity and parity audits.  The PNG pixels
themselves are glyph artwork for the reference's Arabic fonts and are
deliberately NOT copied into this repo; `build_specs` binds the table to
any alphabet's own pattern images, and `load_reference_patterns` reads the
reference's ACTUAL artwork at runtime (from-scratch PNG decoder,
sources/png.py — the environment ships no image library) through the same
grayscale+binarize path the reference applies (utils.py:35-39), so a
deployment holding the original pattern files runs the genuine Arabic
template suppression end-to-end.
"""

from __future__ import annotations

import os

import numpy as np

from arabic_ocr_spark.sources.png import png_to_gray

from .segmentation import TemplateSpec

__all__ = ["REFERENCE_TEMPLATE_TABLE", "build_specs", "load_reference_patterns"]

# (pattern name, NCC threshold, action, enabled) — preprocess.py:329-394.
# 'enabled' False marks the two templates the reference ships but keeps
# commented out (ra2_end, dal_end) and the unused seen_mid_2 file.
REFERENCE_TEMPLATE_TABLE: tuple[tuple[str, float, str, bool], ...] = (
    ("seen_start", 0.70, "whiten", True),
    ("seen_mid", 0.80, "whiten_inset", True),   # the +3 / -5 inset masking
    ("seen_end", 0.75, "whiten", True),
    ("kaf", 0.70, "whiten", True),
    ("kaf_end", 0.65, "whiten", True),
    ("fa2", 0.65, "whiten", True),
    ("sad", 0.75, "whiten", True),
    ("ba2", 0.70, "whiten", True),
    ("ba2_end", 0.65, "whiten", True),
    ("ya2_end", 0.75, "cut_after", True),       # appends a cut at p + width
    ("ra2_end", 0.85, "whiten", False),
    ("dal_end", 0.70, "whiten", False),
    ("seen_mid_2", 0.80, "whiten_inset", False),
)


def build_specs(images: dict[str, np.ndarray]) -> list[TemplateSpec]:
    """Binds the reference's enabled threshold/action rows to an alphabet's
    own pattern images: `images` maps template name -> binary uint8 raster.
    Names absent from `images` are skipped (an alphabet need not have an
    analog of every Arabic ligature).  Order follows the reference's match
    order, which is observable (cuts/whitening apply in sequence)."""
    specs = []
    for name, threshold, action, enabled in REFERENCE_TEMPLATE_TABLE:
        img = images.get(name)
        if not enabled or img is None:
            continue
        specs.append(TemplateSpec(name=name, image=img, threshold=threshold, action=action))
    return specs


def load_reference_patterns(patterns_dir: str) -> dict[str, np.ndarray]:
    """Reads the reference's pattern artwork from `patterns_dir` into the
    name -> binary-raster dict `build_specs` consumes, replaying the
    reference's own load path bit for bit: PNG decode, alpha dropped,
    OpenCV fixed-point BT.601 grayscale, then threshold-127 INVERT
    (reference utils.py:35-39 convert_to_binary_and_invert).  Names in the
    table with no file present are skipped.  Pass the result to
    build_specs() and hand those specs to run_extraction(templates=...) —
    the specs are broadcast once per run like the model."""
    out: dict[str, np.ndarray] = {}
    for name, _thr, _act, _en in REFERENCE_TEMPLATE_TABLE:
        path = os.path.join(patterns_dir, f"{name}.png")
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            gray = png_to_gray(f.read())
        out[name] = ((gray <= 127) * 255).astype(np.uint8)
    return out
