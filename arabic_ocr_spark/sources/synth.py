"""Deterministic synthetic transcripts table (FIXTURES.md §1-2).

Builds the BASELINE.json input_hint shape — (conv_id string, turn_idx int32,
role string, text string, tool string, ts timestamp) — with payloads
rendered from the synthetic glyph alphabet, plus a golden table carrying the
serial oracle's expected extraction per turn.

Scale strategy: payloads are drawn from a deterministic POOL of distinct
pages (pool_size), so synthesizing 10^5-10^6 turns costs seconds and the
oracle runs once per distinct page, not per turn — the same trick a
production fixture generator would use at 10^12 turns.

Skew knobs (exercised by tests and the bench):
- one designated conversation gets `skew_factor` x the median turn count
  (the hot-conversation skew the salted repartition must absorb);
- a deterministic subset of pool pages is rotated by a small angle
  (exercises the deskew path);
- `blank_frac` of turns carry empty payloads (edge case rows).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..kernel.classifier import CharModel
from ..kernel.geometry import rotation_matrix_2d, warp_affine_cubic
from ..kernel.pipeline import extract_page
from .codec import encode_payload
from .glyphs import ALPHABET, compose_paragraph, compose_text_image

__all__ = ["SynthConfig", "synthesize", "default_model_path", "rotate_page"]


def rotate_page(img: np.ndarray, angle: float) -> np.ndarray:
    """Rotate a paper-white/ink-black page by `angle` degrees (bicubic, the
    same warp the deskew stage inverts), padding the canvas by 12 px first."""
    pad = 12
    ink = (255 - img).astype(np.uint8)
    canvas = np.zeros((img.shape[0] + 2 * pad, img.shape[1] + 2 * pad), dtype=np.uint8)
    canvas[pad:-pad, pad:-pad] = ink
    m = rotation_matrix_2d((canvas.shape[1] // 2, canvas.shape[0] // 2), angle)
    rot = warp_affine_cubic(canvas, m, (canvas.shape[1], canvas.shape[0]))
    return (255 - rot).astype(np.uint8)

_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def default_model_path() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "model", "config_map.json")


@dataclass
class SynthConfig:
    n_convs: int = 100
    mean_turns: int = 8
    skew_conv: str = "conv_000042"
    skew_factor: int = 100
    blank_frac: float = 0.05
    skew_angle_frac: float = 0.1
    pool_size: int = 200
    seed: int = 42
    roles: tuple = ("user", "assistant", "tool")
    # pool pages are width-targeted justified paragraphs: dense blocks keep
    # the reference's min-area-rect deskew estimator stable (sparse 1-2 line
    # pages tilt it by up to ~1.5 deg even when straight)
    min_lines: int = 3
    max_lines: int = 7
    target_width: int = 190


def _render_pool(cfg: SynthConfig, model: CharModel) -> tuple[list[str], list[dict]]:
    """Returns (payload strings, oracle results per pool entry)."""
    rng = np.random.default_rng(cfg.seed)
    payloads: list[str] = []
    oracle: list[dict] = []
    for i in range(cfg.pool_size):
        n_lines = int(rng.integers(cfg.min_lines, cfg.max_lines + 1))
        img, true_text, _lines = compose_paragraph(rng, n_lines, cfg.target_width)
        if rng.random() < cfg.skew_angle_frac:
            img = rotate_page(img, float(rng.uniform(-3.0, 3.0)))
        payloads.append(encode_payload(img))
        res = extract_page(img, model)
        oracle.append(
            {
                "expected_text": res.text,
                "true_text": true_text,
                "n_lines": res.n_lines,
                "n_words": res.n_words,
                "ok": res.ok,
            }
        )
    return payloads, oracle


def synthesize(out_dir: str, cfg: SynthConfig | None = None) -> dict:
    """Writes transcripts.parquet + transcripts_golden.parquet under out_dir,
    the golden from the packaged model.  Returns summary stats.  Fully
    deterministic from cfg.seed."""
    cfg = cfg or SynthConfig()
    model = CharModel.load(default_model_path())
    payloads, oracle = _render_pool(cfg, model)

    rng = np.random.default_rng(cfg.seed + 1)
    conv_ids: list[str] = []
    turn_idxs: list[int] = []
    roles: list[str] = []
    texts: list[str] = []
    tools: list[str] = []
    pool_ids: list[int] = []

    for k in range(cfg.n_convs):
        conv = f"conv_{k:06d}"
        n_turns = int(rng.integers(max(1, cfg.mean_turns // 2), cfg.mean_turns * 2))
        if conv == cfg.skew_conv:
            n_turns *= cfg.skew_factor
        for t in range(n_turns):
            conv_ids.append(conv)
            turn_idxs.append(t)
            roles.append(cfg.roles[t % len(cfg.roles)])
            if rng.random() < cfg.blank_frac:
                texts.append("")
                tools.append("")
                pool_ids.append(-1)
            else:
                pid = int(rng.integers(0, cfg.pool_size))
                texts.append(payloads[pid])
                tools.append("ocr_doc")
                pool_ids.append(pid)

    n = len(conv_ids)
    ts = _EPOCH + (np.arange(n, dtype="int64") * 60_000_000).astype("timedelta64[us]")

    # write rows SHUFFLED (the engine must restore stable turn ordering)
    order = rng.permutation(n)

    def take(lst):
        return [lst[i] for i in order]

    table = pa.table(
        {
            "conv_id": pa.array(take(conv_ids), pa.string()),
            "turn_idx": pa.array(take(turn_idxs), pa.int32()),
            "role": pa.array(take(roles), pa.string()),
            "text": pa.array(take(texts), pa.string()),
            "tool": pa.array(take(tools), pa.string()),
            "ts": pa.array(ts[order]),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "transcripts.parquet"))

    golden = pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn_idxs, pa.int32()),
            "expected_text": pa.array(
                [oracle[p]["expected_text"] if p >= 0 else "" for p in pool_ids], pa.string()
            ),
            "true_text": pa.array(
                [oracle[p]["true_text"] if p >= 0 else "" for p in pool_ids], pa.string()
            ),
            "n_lines": pa.array([oracle[p]["n_lines"] if p >= 0 else 0 for p in pool_ids], pa.int32()),
            "n_words": pa.array([oracle[p]["n_words"] if p >= 0 else 0 for p in pool_ids], pa.int32()),
            "ok": pa.array([bool(oracle[p]["ok"]) if p >= 0 else False for p in pool_ids], pa.bool_()),
        }
    )
    pq.write_table(golden, os.path.join(out_dir, "transcripts_golden.parquet"))
    return {
        "rows": n,
        "convs": cfg.n_convs,
        "pool": cfg.pool_size,
        "blank": sum(1 for p in pool_ids if p < 0),
        "skew_conv_rows": sum(1 for c in conv_ids if c == cfg.skew_conv),
    }
