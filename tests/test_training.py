"""Training-path tests: serial/Spark equivalence, normalizer parity,
validation predicates, model artifact stability."""

import hashlib

from arabic_ocr_spark.kernel.classifier import CharModel
from arabic_ocr_spark.training import (
    compare_and_assign,
    normalize_ground_truth,
    train_serial,
    train_spark,
    train_words_for_alphabet,
    validate_fv,
)


def test_normalize_ground_truth():
    assert normalize_ground_truth("ab   cd \n") == ["ab", "cd"]
    assert normalize_ground_truth("  ") == []
    assert normalize_ground_truth("xلاy z") == ["xLy", "z"]


def test_compare_and_assign_rejects_count_mismatch():
    fvs = [[0, 1, 12.0, 0, -1, 0, 0, 0, 0]]
    assert compare_and_assign(fvs, "ab", {}) == -1


def test_compare_and_assign_dedups():
    fv = [0, 2, 12.0, 0, -1, 0, 0, 0, 0]
    m = compare_and_assign([list(fv)], "a", {})
    m = compare_and_assign([list(fv)], "a", m)
    assert len(m["0"]) == 1


def test_validations_from_alphabet():
    # 'o' is box + one dot above: requires dots, top position
    assert validate_fv("o", [2, 2, 14.0, 1, 1, 1, 4, 4, 1])
    assert not validate_fv("o", [2, 2, 14.0, 0, -1, 0, 4, 4, 1])
    # 'b' is the plain box: requires no dots
    assert validate_fv("b", [2, 2, 14.0, 0, -1, 0, 4, 4, 1])
    assert not validate_fv("b", [2, 2, 14.0, 1, 1, 1, 4, 4, 1])


def test_committed_model_artifact_reproducible():
    from arabic_ocr_spark.training import DEFAULT_SKEW_ROUNDS

    raw, rejected, total = train_serial(skew_rounds=DEFAULT_SKEW_ROUNDS)
    assert total > 0
    import json
    import tempfile

    m = CharModel.from_raw(raw)
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(m.to_raw(), f, ensure_ascii=False)
        path = f.name
    new = hashlib.sha256(open(path, "rb").read()).hexdigest()
    old = hashlib.sha256(open("arabic_ocr_spark/model/config_map.json", "rb").read()).hexdigest()
    assert new == old


def test_train_spark_equals_serial(spark):
    """Bucket-internal ORDER included: 1-NN keeps the first minimum, so a
    spark-trained artifact must reproduce the serial insertion order exactly
    or distance ties could classify differently."""
    # ["a"]: a one-glyph line whose word segmentation raises; both trainers
    # count the page as rejected instead of failing
    pages = train_words_for_alphabet(n_random=10) + [["a"]]
    serial_raw, _r, _t = train_serial(pages)
    model = train_spark(spark, pages)
    serial = CharModel.from_raw(serial_raw)
    assert model.to_raw() == serial.to_raw()


def test_reference_ground_truth_corpus_pinned():
    """The reference's only committed ground-truth corpus
    (/root/reference/inputs_text/{capr4,csep1622}.txt) read through
    normalize_ground_truth must reproduce the loader semantics of reference
    integrator.py:4-15: space runs collapsed, newline stripped, the lam-alef
    ligature mapped to its 'L' sentinel, empties dropped.  Word counts and
    sentinel counts pinned — the corpus twin of the config_map.json interop
    tests (same 5-line-test gap the model artifact had in round 1)."""
    import os

    import pytest

    ref = "/root/reference/inputs_text"
    if not os.path.isdir(ref):
        pytest.skip("reference corpus not present")
    expected = {"capr4.txt": (375, 38), "csep1622.txt": (152, 19)}
    for name, (n_words, n_lig) in expected.items():
        with open(os.path.join(ref, name), encoding="utf-8") as f:
            words = normalize_ground_truth(f.readline())
        assert len(words) == n_words
        # the ligature sentinel survives, the raw ligature never does
        assert sum(1 for w in words if "L" in w) == n_lig
        assert not any("لا" in w for w in words)
        # loader invariants: no empties, no residual double spaces/newlines
        assert all(w and " " not in w and "\n" not in w for w in words)
