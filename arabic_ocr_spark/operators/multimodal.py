"""Multimodal payload operators over the transcripts table.

The `text` column carries an opaque binary document per turn (the GRY1
envelope, sources/codec.py).  Two tiers:

- `payload_meta`: envelope HEADER fields (height, width, valid) decoded
  entirely JVM-side — try_to_binary + byte slicing + hex arithmetic inside
  whole-stage codegen, zero Python.  At 100 TB this is the cheap schema/
  validity sweep you run before committing any Python-side pixel work.
- `payload_features`: per-image INK statistics (ink ratio, line count and
  mean line height from the horizontal projection) via an Arrow-batched
  mapInPandas kernel reusing the extraction engine's imgops — the quality-
  filter features for image-bearing turns.  Decode of richer media (PNG,
  audio frames) would slot into the same batch shape; only the envelope
  codec is real in this environment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["payload_meta", "payload_features", "payload_ink_stats", "payload_thumbnail",
           "payload_profile", "with_quality_flag", "round_ratio",
           "PAYLOAD_FEATURE_SCHEMA", "PAYLOAD_PROFILE_SCHEMA"]

_HEADER_LEN = 8  # b"GRY1" + u16le height + u16le width
# the quality gate's plausible ink-ratio range (read by the DuckDB twin)
MIN_INK = 0.005
MAX_INK = 0.5


def _u16le(bin_col, pos: int):
    """Little-endian u16 at 1-based byte offset `pos` of a binary column,
    via hex-nibble swap (no JVM UDF, stays in codegen)."""
    h = F.hex(F.substring(bin_col, pos, 2))  # e.g. 0x3400 -> '3400' (LE bytes)
    swapped = F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))
    return F.conv(swapped, 16, 10).cast("int")


def payload_meta(df: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, height, width, valid) from the payload envelope
    header — JVM-side only.  Invalid/blank/truncated payloads get
    (0, 0, false), byte-compatible with the Python decoder's None."""
    raw = F.try_to_binary(F.col("text"), F.lit("base64"))
    h = _u16le(raw, 5)
    w = _u16le(raw, 7)
    ok = (
        raw.isNotNull()
        & (F.length(raw) >= _HEADER_LEN)
        & (F.substring(raw, 1, 4) == F.lit(b"GRY1"))
        & (h > 0)
        & (w > 0)
        # h,w are u16 (<= 65535 each): the product must be computed in long —
        # in int32 a crafted header with large declared dims wraps and a short
        # body could pass valid=true where the Python codec (unbounded ints)
        # returns None
        & (F.length(raw).cast("long") == _HEADER_LEN + h.cast("long") * w.cast("long"))
    )
    return df.select(
        "conv_id",
        "turn_idx",
        F.when(ok, h).otherwise(F.lit(0)).alias("height"),
        F.when(ok, w).otherwise(F.lit(0)).alias("width"),
        F.coalesce(ok, F.lit(False)).alias("valid"),
    )


PAYLOAD_FEATURE_SCHEMA = (
    "conv_id string, turn_idx int, height int, width int, valid boolean, "
    "ink_ratio double, n_lines int, mean_line_height double, quality_ok boolean"
)

PAYLOAD_PROFILE_SCHEMA = (
    "conv_id string, turn_idx int, height int, width int, valid boolean, "
    "n_ink bigint, n_pixels bigint, n_lines bigint, nz_rows bigint, "
    "ink_ratio double, mean_line_height double, quality_ok boolean, "
    "thumb string, thumb_height int, thumb_width int"
)


def _page_ink_counts(img):
    """(n_ink, n_pixels, n_line_starts, nz_rows) as exact INTEGERS for a
    decoded page — the ONE definition of the ink/line statistics;
    payload_profile and with_quality_flag both derive from it (through
    _quality_ok for the gate) so the extraction-path gate can never desync
    from the reported features."""
    import numpy as np

    from ..kernel.imgops import binarize_inv, horizontal_projection

    binary = binarize_inv(img)
    hp = horizontal_projection(binary)
    nz = hp > 0
    # nonzero-run starts = rising edges of the projection mask
    starts = np.flatnonzero(nz & ~np.concatenate(([False], nz[:-1])))
    return int(np.count_nonzero(binary)), binary.size, len(starts), int(np.count_nonzero(nz))


def round_ratio(num: int, den: int, decimals: int) -> float:
    """round(num/den, decimals) as EXACT decimal half-up on the true
    rational (integer arithmetic, no float step), for num, den >= 0.

    This is the engine-portable rounding for reported ratio columns: Python
    round() is correctly-rounded on the BINARY double (so a decimal tie like
    3627/24960 = 0.1453125, whose double sits a hair above the tie, rounds
    up, while the binary-exact tie 33/32 = 1.03125 goes to even), and no
    DuckDB function replays that mix — round() is half-away-from-zero,
    round_even() ties-to-even on the scaled product.  Exact integer half-up
    (floor((num*scale*2 + den) / (den*2)) / scale) is instead reproducible
    verbatim in any engine with 64-bit integers; the final
    int-to-double division is IEEE-exact on both sides."""
    scale = 10 ** decimals
    return (num * scale * 2 + den) // (den * 2) / scale


def _quality_ok(n_ink: int, n_pixels: int, n_starts: int) -> bool:
    """The quality gate: >= 1 detectable text line and a plausible
    (unrounded) ink ratio."""
    return bool(n_starts > 0 and MIN_INK <= n_ink / n_pixels <= MAX_INK)


def payload_profile(df: DataFrame, max_side: int = 32, include_thumb: bool = True) -> DataFrame:
    """The FUSED payload sweep: ONE decode pass per payload emitting every
    per-image product — envelope dims/validity, exact integer ink statistics
    (_page_ink_counts), the rounded ratio/quality view, and (optionally) the
    decimated thumbnail re-encoded into the envelope.

    This is the production shape: payload bytes are the dominant scan cost
    at 100 TB, and a pipeline that wants features + ink stats + thumbnails
    must decode each payload once, not once per consumer (the three
    single-product operators below are thin projections of this kernel, so
    a standalone caller still pays only its own columns' compute: the
    thumbnail encode — the expensive extra — is skipped unless
    include_thumb).  Invalid payloads get zeros / empty thumb, exactly like
    the individual operators."""
    import numpy as np
    import pandas as pd

    from ..sources.codec import decode_payload, encode_payload

    cols = df.select("conv_id", "turn_idx", "text")

    def profile(batches):
        for pdf in batches:
            n = len(pdf)
            thumbs = [""] * n
            out = {
                "conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"],
                "height": np.zeros(n, dtype=np.int32), "width": np.zeros(n, dtype=np.int32),
                "valid": np.zeros(n, dtype=bool),
                "n_ink": np.zeros(n, dtype=np.int64), "n_pixels": np.zeros(n, dtype=np.int64),
                "n_lines": np.zeros(n, dtype=np.int64), "nz_rows": np.zeros(n, dtype=np.int64),
                "ink_ratio": np.zeros(n), "mean_line_height": np.zeros(n),
                "quality_ok": np.zeros(n, dtype=bool),
                "thumb_height": np.zeros(n, dtype=np.int32),
                "thumb_width": np.zeros(n, dtype=np.int32),
            }
            for i, t in enumerate(pdf["text"]):
                img = decode_payload(t)
                if img is None:
                    continue
                out["height"][i], out["width"][i] = img.shape
                out["valid"][i] = True
                n_ink, n_pixels, n_starts, nz_rows = _page_ink_counts(img)
                out["n_ink"][i], out["n_pixels"][i] = n_ink, n_pixels
                out["n_lines"][i], out["nz_rows"][i] = n_starts, nz_rows
                out["ink_ratio"][i] = round_ratio(n_ink, n_pixels, 6)
                if n_starts:
                    out["mean_line_height"][i] = round_ratio(nz_rows, n_starts, 4)
                out["quality_ok"][i] = _quality_ok(n_ink, n_pixels, n_starts)
                if include_thumb:
                    stride = max(1, -(-max(img.shape) // max_side))
                    thumb = np.ascontiguousarray(img[::stride, ::stride])
                    thumbs[i] = encode_payload(thumb)
                    out["thumb_height"][i] = thumb.shape[0]
                    out["thumb_width"][i] = thumb.shape[1]
            out["thumb"] = thumbs
            yield pd.DataFrame(out)

    return cols.mapInPandas(profile, PAYLOAD_PROFILE_SCHEMA)


def payload_features(df: DataFrame) -> DataFrame:
    """Per-image ink statistics as a quality filter for image-bearing turns.

    ink_ratio: fraction of ink pixels after the kernel's binarize+invert;
    n_lines / mean_line_height: text-line estimate from the horizontal
    projection's nonzero runs (the engine's own line segmentation primitive,
    kernel/imgops.py) — a page whose ink ratio is implausible or that has no
    detectable lines is flagged quality_ok=false and can be dropped before
    the (much more expensive) OCR kernel runs.

    A projection of the fused payload_profile kernel (thumbnail encode
    skipped), so its standalone cost is unchanged while a multi-product
    consumer can read the same columns from one decode pass."""
    from pyspark.sql import functions as F

    return payload_profile(df, include_thumb=False).select(
        "conv_id", "turn_idx", "height", "width", "valid", "ink_ratio",
        F.col("n_lines").cast("int").alias("n_lines"),
        "mean_line_height", "quality_ok",
    )


def payload_ink_stats(df: DataFrame) -> DataFrame:
    """Exact INTEGER pixel statistics per turn: (conv_id, turn_idx, n_ink,
    n_pixels, n_lines, nz_rows), zeros for invalid payloads.

    The hard-checked face of the payload feature sweep: every output is an
    exact integer, so a SQL engine can replay the whole computation —
    base64 decode, binarize@127 (byte <= 127 = ink, kernel/imgops.py
    binarize_inv), row projection, rising-edge line count — value for value
    from the same parquet bytes with no float-rounding hazards (the DuckDB
    oracle in __spark_entry__ does exactly that via a translate/regexp
    high-nibble bitmap).  A projection of the fused payload_profile kernel
    (thumbnail encode skipped); payload_features is the ratio/quality view
    over the same counts."""
    return payload_profile(df, include_thumb=False).select(
        "conv_id", "turn_idx", "n_ink", "n_pixels", "n_lines", "nz_rows"
    )


def with_quality_flag(df: DataFrame) -> DataFrame:
    """Pass-through form of the payload_features quality gate: every input
    column is preserved and a `quality_ok` boolean is appended (same
    predicate as payload_features: decodable payload, >=1 detectable text
    line, plausible ink ratio).

    This is the shape the EXTRACTION PATH consumes
    (ExtractionJobConfig.quality_filter -> plan_extraction): the flag is
    computed map-only on the pre-shuffle rows, the filter drops
    quality_ok=false payloads BELOW the kernel, so unusable pages never pay
    the repartition, the sort, or the (much more expensive) OCR kernel —
    the decode+binarize+projection here is a small fraction of full
    extraction cost."""
    import numpy as np

    from ..sources.codec import decode_payload

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema
    ) + ", quality_ok boolean"

    def flag(batches):
        for pdf in batches:
            ok = np.zeros(len(pdf), dtype=bool)
            for i, t in enumerate(pdf["text"]):
                img = decode_payload(t)
                if img is None:
                    continue
                n_ink, n_pixels, n_starts, _ = _page_ink_counts(img)
                ok[i] = _quality_ok(n_ink, n_pixels, n_starts)
            pdf = pdf.copy()
            pdf["quality_ok"] = ok
            yield pdf

    return df.mapInPandas(flag, out_schema)


def payload_thumbnail(df: DataFrame, max_side: int = 32) -> DataFrame:
    """Binary->binary payload transform: decimate each image so its longer
    side is <= max_side (stride subsampling, pure NumPy) and re-encode into
    the same envelope.  The resize/frame-sample shape of a multimodal
    pipeline: opaque payload in, opaque payload out, metadata alongside —
    heavier codecs (PNG/JPEG/audio) would slot into the identical batch
    path.  Invalid payloads pass through as empty strings.

    A projection of the fused payload_profile kernel: the added ink-stat
    columns it doesn't project cost one vectorized binarize+projection per
    page, a small fraction of the decode+encode this operator pays anyway."""
    from pyspark.sql import functions as F

    return payload_profile(df, max_side=max_side, include_thumb=True).select(
        "conv_id", "turn_idx", "thumb",
        F.col("thumb_height").alias("height"),
        F.col("thumb_width").alias("width"),
        "valid",
    )
