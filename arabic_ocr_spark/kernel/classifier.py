"""1-NN character classifier over score-bucketed feature vectors.

Model format on disk is the reference's (a JSON dict
``{str(score): [[char, [9 floats]], ...]}`` — reference integrator.py:163-170,
segment_words.py:193-201) so artifacts are interchangeable.  At load time the
buckets are restructured once into dense float64 matrices + label lists so
the per-character lookup is a vectorized argmin instead of a Python linear
scan; argmin's first-minimum tie-break matches the reference's strict-<
linear scan (including its early exit at distance 0).

The model is built ONCE on the driver and `SparkContext.broadcast` to
executors; the kernel closure only ever sees the preprocessed structure.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

__all__ = ["CharModel", "match_feat_to_char", "COMPOSITE_SENTINELS"]

# ligature sentinels: recognition emits the sentinel, the final string gets
# the composite (reference integrator.py:26-43)
COMPOSITE_SENTINELS = {"L": "لا"}  # 'L' -> Arabic lam-alef


@dataclass
class CharModel:
    buckets: dict[int, tuple[np.ndarray, list[str]]] = field(default_factory=dict)

    @classmethod
    def from_raw(cls, raw: dict[str, list]) -> "CharModel":
        buckets: dict[int, tuple[np.ndarray, list[str]]] = {}
        for score_str, pairs in raw.items():
            mat = np.asarray([p[1] for p in pairs], dtype=np.float64)
            labels = [p[0] for p in pairs]
            buckets[int(float(score_str))] = (mat, labels)
        return cls(buckets)

    @classmethod
    def load(cls, path: str | None = None) -> "CharModel":
        """Load from a filesystem path, or (path=None) from the packaged
        default artifact — which also works when the package is imported
        from a --py-files engine.zip."""
        if path is None:
            return cls.load_default()
        with open(path, encoding="utf-8") as f:
            return cls.from_raw(json.load(f))

    @classmethod
    def load_default(cls) -> "CharModel":
        from importlib.resources import files

        text = files("arabic_ocr_spark").joinpath("model/config_map.json").read_text(encoding="utf-8")
        return cls.from_raw(json.loads(text))

    def to_raw(self) -> dict[str, list]:
        return {
            str(score): [[lbl, fv.tolist()] for lbl, fv in zip(labels, mat)]
            for score, (mat, labels) in self.buckets.items()
        }

    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.to_raw(), f, ensure_ascii=False)

    @property
    def n_pairs(self) -> int:
        return sum(len(labels) for _m, labels in self.buckets.values())


def match_feat_to_char(model: CharModel, feat_vecs: list[list]) -> str:
    """Feature vectors (left-to-right slices) -> recognized word string.

    Vectors are consumed reversed (Arabic is right-to-left); a feature
    vector whose score bucket is missing contributes no character
    (reference integrator.py:181-200)."""
    word = ""
    for fv in reversed(feat_vecs):
        score = int(fv[0])
        bucket = model.buckets.get(score)
        if bucket is None:
            continue
        mat, labels = bucket
        d2 = ((mat - np.asarray(fv, dtype=np.float64)) ** 2).sum(axis=1)
        word += labels[int(np.argmin(d2))]
    for sentinel, composite in COMPOSITE_SENTINELS.items():
        word = word.replace(sentinel, composite)
    return word
