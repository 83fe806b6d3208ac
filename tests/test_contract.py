"""Driver-contract invariants (no JVM): every oracle has a query, the
rows-only set stays exactly the irreducible one, and the oracle SQL uses
only engine-portable primitives (no Spark-only function names)."""

import __spark_entry__ as entry

# the ONLY queries allowed to lack a DuckDB oracle: the OCR-kernel trio
# (not SQL-expressible; gated instead by per-turn equality vs the serial
# kernel in tests/test_spark_job.py) and the IVF pair (a TRAINED quantizer
# — k-means is not SQL-expressible — plus the recall measurement built on
# it).  ann_lsh_topk left this set in round 5: seeded candidates + exact
# cosine + deterministic tie-break make it value-gateable end-to-end.
IRREDUCIBLE_ROWS_ONLY = {
    "extract_turns", "extract_eval", "extract_lineage",
    "ann_ivf_topk", "ann_recall",
}


def test_every_oracle_has_a_query():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(osql) <= set(qs)


def test_rows_only_set_is_exactly_the_irreducible_one():
    """Adding a query without an oracle (or dropping an oracle) must be a
    deliberate decision: this pins the uncovered set."""
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) - set(osql) == IRREDUCIBLE_ROWS_ONLY


def test_oracle_sql_is_duckdb_parseable():
    """Every oracle statement at least PARSES in DuckDB (catches typos and
    Spark-only syntax without needing the data files)."""
    import duckdb

    con = duckdb.connect()
    for name, sql in entry.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except duckdb.ParserException as exc:  # pragma: no cover
            raise AssertionError(f"{name}: oracle SQL does not parse: {exc}") from exc
        except duckdb.Error:
            # binder errors are fine here (views/files absent); parse errors
            # surface as ParserException above
            pass


def test_band_signature_refuses_a_sign_at_zero():
    """A fixture vector whose seeded-plane projection lies within 1e-9 of
    zero has no engine-portable sign bucket: the twin raises instead."""
    import numpy as np
    import pytest

    p0 = np.random.default_rng(7).standard_normal((4, 3))[0]
    x = np.array([1.0, 2.0, 3.0])
    assert "UNION ALL" in entry._sql_band_sig("v", x[None, :], 2, 2, 7)
    on_plane = x - (x @ p0) / (p0 @ p0) * p0  # orthogonal to plane 0
    with pytest.raises(ValueError, match="plane 0 projects row 1 of v"):
        entry._sql_band_sig("v", np.stack([x, on_plane]), 2, 2, 7)
