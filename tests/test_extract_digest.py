"""The extraction kernel's per-page output, pinned in the repository
(tests/goldens/extract_digest.json; see tools/extract_digest.py).  No JVM."""

import json

from tools.extract_digest import GOLDEN, compute_digest, drift


def test_extract_digest_matches_golden():
    with open(GOLDEN, encoding="utf-8") as f:
        golden = json.load(f)
    bad = drift(golden, compute_digest())
    assert not bad, (
        f"{len(bad)} pages changed, first {bad[:10]}; if the change is intended, "
        "run `python tools/extract_digest.py --accept` and review the diff"
    )
