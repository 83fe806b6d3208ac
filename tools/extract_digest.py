"""Per-page digest of the extraction kernel, pinned in
tests/goldens/extract_digest.json.

The pages: a seeded synthetic pool (SynthConfig's 3-7 line justified
paragraphs, ~10% of them rotated so deskew runs), an all-white page (the
reference-crash path), and the first TEMPLATED_PAGES pool pages again under
a two-template comb set (the whiten and cut_after actions of
tests/test_templates.py).  Each page goes through the payload codec and
`extract_page`; the digest keeps the md5 of the text, n_lines, n_words, ok,
the number of character cuts and the md5 of the cut positions
`extract_page` computed.  A kernel change that moves one cut or one
character shows up as a per-page diff.

    python tools/extract_digest.py            # compare; exit 1 on any drift
    python tools/extract_digest.py --accept   # rewrite the golden file
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
from contextlib import contextmanager

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from arabic_ocr_spark.kernel import pipeline  # noqa: E402
from arabic_ocr_spark.kernel.classifier import CharModel  # noqa: E402
from arabic_ocr_spark.kernel.segmentation import TemplateSpec  # noqa: E402
from arabic_ocr_spark.sources.codec import decode_payload, encode_payload  # noqa: E402
from arabic_ocr_spark.sources.glyphs import compose_paragraph  # noqa: E402
from arabic_ocr_spark.sources.synth import SynthConfig, default_model_path, rotate_page  # noqa: E402

GOLDEN = os.path.join(ROOT, "tests", "goldens", "extract_digest.json")
POOL_PAGES = 64
TEMPLATED_PAGES = 24


def comb_templates() -> list[TemplateSpec]:
    """One tooth period of a comb glyph's contour raster, as a whiten and
    as a cut_after template."""
    tpl = np.zeros((6, 3), dtype=np.uint8)
    tpl[0:4, 0] = 255
    tpl[4, 0:3] = 255
    return [TemplateSpec("comb", tpl, threshold=0.5, action="whiten"),
            TemplateSpec("ya2ish", tpl, threshold=0.5, action="cut_after")]


def pool_pages(n: int = POOL_PAGES) -> list[np.ndarray]:
    """The first n pages of a SynthConfig pool, drawn the way synth renders
    its pool (same rng stream, same rotation rule)."""
    cfg = SynthConfig()
    rng = np.random.default_rng(cfg.seed)
    pages = []
    for _ in range(n):
        n_lines = int(rng.integers(cfg.min_lines, cfg.max_lines + 1))
        img, _text, _lines = compose_paragraph(rng, n_lines, cfg.target_width)
        if rng.random() < cfg.skew_angle_frac:
            img = rotate_page(img, float(rng.uniform(-3.0, 3.0)))
        pages.append(img)
    return pages


@contextmanager
def _recording_cuts(log: list):
    """Records every cut list `extract_page` computes, in call order."""
    contour_seg = pipeline.contour_seg

    def spy(*args, **kwargs):
        cuts = contour_seg(*args, **kwargs)
        log.append([float(c) for c in cuts])
        return cuts

    pipeline.contour_seg = spy
    try:
        yield
    finally:
        pipeline.contour_seg = contour_seg


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def page_digest(img: np.ndarray, model: CharModel, templates=None) -> dict:
    cuts: list = []
    with _recording_cuts(cuts):
        res = pipeline.extract_page(decode_payload(encode_payload(img)), model, templates)
    return {"text_md5": _md5(res.text), "n_lines": res.n_lines, "n_words": res.n_words,
            "ok": res.ok, "n_cuts": sum(len(c) for c in cuts), "cuts_md5": _md5(repr(cuts))}


def compute_digest() -> dict:
    model = CharModel.load(default_model_path())
    pages = pool_pages()
    out = {f"pool_{i:03d}": page_digest(img, model) for i, img in enumerate(pages)}
    out["white"] = page_digest(np.full((40, 120), 255, dtype=np.uint8), model)
    templates = comb_templates()
    for i, img in enumerate(pages[:TEMPLATED_PAGES]):
        out[f"comb_{i:03d}"] = page_digest(img, model, templates)
    return out


def drift(golden: dict, got: dict) -> list[str]:
    return sorted(k for k in golden.keys() | got.keys() if golden.get(k) != got.get(k))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--accept", action="store_true", help="rewrite the golden file")
    args = ap.parse_args()
    got = compute_digest()
    if args.accept:
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w", encoding="utf-8") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(got)} pages to {os.path.relpath(GOLDEN, ROOT)}")
        return 0
    with open(GOLDEN, encoding="utf-8") as f:
        bad = drift(json.load(f), got)
    print(f"{len(got)} pages, {len(bad)} drifted" + (f": {bad[:10]}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
