"""The payload_profile DuckDB twin, value-checked without a JVM: every
column but the thumbnail bytes is recomputed in Python from the same
building blocks the Spark operator uses (decode_payload,
_page_ink_counts, round_ratio, _quality_ok) and compared row by row."""

import os

import duckdb
import pyarrow.parquet as pq

import __spark_entry__ as entry
from arabic_ocr_spark.operators.multimodal import _page_ink_counts, _quality_ok, round_ratio
from arabic_ocr_spark.sources.codec import decode_payload

SF = "/root/testdata/sf0.001"
COLS = ["conv_id", "turn_idx", "height", "width", "valid", "n_ink", "n_pixels", "n_lines",
        "nz_rows", "ink_ratio", "mean_line_height", "quality_ok", "thumb_height", "thumb_width"]


def _expected(conv_id, turn_idx, text, max_side=32):
    img = decode_payload(text)
    if img is None:
        return (conv_id, turn_idx) + (0,) * 7 + (0.0, 0.0, 0, 0, 0)
    h, w = img.shape
    n_ink, n_pixels, n_starts, nz_rows = _page_ink_counts(img)
    stride = max(1, -(-max(h, w) // max_side))
    return (
        conv_id, turn_idx, h, w, 1, n_ink, n_pixels, n_starts, nz_rows,
        round_ratio(n_ink, n_pixels, 6),
        round_ratio(nz_rows, n_starts, 4) if n_starts else 0.0,
        int(_quality_ok(n_ink / n_pixels, n_starts, 0.005, 0.5)),
        len(range(0, h, stride)), len(range(0, w, stride)),
    )


def test_payload_profile_oracle_matches_python():
    sql = entry.oracle_sql(SF)["payload_profile"]
    rel = duckdb.sql(sql)
    got = sorted(rel.select(*COLS).fetchall())
    table = pq.read_table(
        os.path.join(entry.synth_dir_for(SF), "transcripts.parquet"),
        columns=["conv_id", "turn_idx", "text"],
    ).to_pylist()
    want = sorted(_expected(r["conv_id"], r["turn_idx"], r["text"]) for r in table)
    assert len(got) == len(want) > 0
    assert any(r[4] == 0 for r in want) and any(r[4] == 1 for r in want)
    for g, e in zip(got, want):
        assert g == e, dict(zip(COLS, zip(g, e)))
