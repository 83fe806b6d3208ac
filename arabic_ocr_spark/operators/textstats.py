"""Text analysis operators over the documents table.

All computations use engine-portable primitives (regexp_replace on explicit
character classes, fixed-marker substring counting, md5) so the DuckDB
oracles in __spark_entry__ produce identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["token_stats", "bpe_token_stats", "quality_scores", "lang_id", "fingerprints",
           "curated_docs", "LANG_MARKERS", "BPE_SPLIT_PATTERN"]

# GPT-2-style pre-tokenization split, made engine-portable: no lookahead
# (RE2 lacks it) and explicit ASCII classes (identical semantics in Java
# regex and RE2; non-ASCII letters fall into the punctuation class in both)
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \tA-Za-z0-9]+|[ \t]+"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace token count + average token length per document.

    Token = maximal run of non-whitespace; empty/whitespace-only docs count
    zero tokens.  JVM-side only: split + size + aggregate — at 100 TB this
    is a map-only pass fused into the parquet scan."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    toks = F.filter(toks, lambda t: t != F.lit(""))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.when(F.size(toks) > 0,
                   F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / F.size(toks))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("avg_token_len"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Character-class composition ratios + a composite quality flag — the
    classic pre-training quality heuristics (length, alpha/digit/punct
    balance), as pure column expressions."""
    n = F.length("text")
    alpha = n - F.length(F.regexp_replace("text", "[A-Za-z]", ""))
    digit = n - F.length(F.regexp_replace("text", "[0-9]", ""))
    space = n - F.length(F.regexp_replace("text", " ", ""))
    nz = F.greatest(n, F.lit(1))
    alpha_r = F.round(alpha.cast("double") / nz, 4)
    digit_r = F.round(digit.cast("double") / nz, 4)
    space_r = F.round(space.cast("double") / nz, 4)
    return docs.select(
        "doc_id",
        n.alias("n_chars_m"),
        alpha_r.alias("alpha_ratio"),
        digit_r.alias("digit_ratio"),
        space_r.alias("space_ratio"),
        (
            (n >= 20) & (alpha_r >= 0.5) & (digit_r <= 0.3)
        ).cast("int").alias("quality_ok"),
    )


# fixed marker substrings per language; counted by the replace-length trick
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def _marker_count(col, marker: str):
    return (F.length(col) - F.length(F.replace(col, F.lit(marker)))) / len(marker)


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-n-gram language ID: per language, count fixed marker substring
    occurrences; highest score wins (fixed tie-break order en>de>fr>es>und)."""
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    scores = {
        lang: sum(_marker_count(padded, m) for m in markers).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    df = docs.select("doc_id", *scores.values())
    s = {lang: F.col(f"score_{lang}") for lang in LANG_MARKERS}
    guess = (
        F.when((s["en"] > 0) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] > 0) & (s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when((s["fr"] > 0) & (s["fr"] >= s["es"]), "fr")
        .when(s["es"] > 0, "es")
        .otherwise("und")
    )
    return df.select(
        "doc_id",
        *[F.round(s[lang], 2).alias(f"score_{lang}") for lang in LANG_MARKERS],
        guess.alias("lang_guess"),
    )


# shingle width of the document fingerprint (read by its DuckDB twin)
FINGERPRINT_K = 8


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: lexicographic-min md5 over the FINGERPRINT_K-
    gram shingle set (a 1-hash MinHash — stable content signature for
    near-dup triage).  Shorter documents get the md5 of the whole text.

    Shingling stays inside one higher-order-function expression (sequence +
    transform + array_min), so no explode/shuffle: a map-only pass."""
    short = F.length("text") < FINGERPRINT_K
    gram_mins = F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - (FINGERPRINT_K - 1)),
            lambda i: F.md5(F.col("text").substr(i, F.lit(FINGERPRINT_K))),
        )
    )
    return docs.select(
        "doc_id",
        F.when(short, F.md5("text")).otherwise(gram_mins).alias("fingerprint"),
    )


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """BPE-ish sub-word piece statistics: total pieces under the GPT-2-style
    split (whitespace runs count as pieces, as in the original), word pieces
    (letter/digit-led), and mean piece length.  Map-only JVM regex — the
    token-budget estimator for corpus curation at scan bandwidth."""
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_PATTERN), 0)
    word = F.filter(pieces, lambda t: t.rlike("^ ?[A-Za-z0-9]"))
    n = F.size(pieces)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_pieces"),
        F.size(word).cast("long").alias("n_word_pieces"),
        F.round(
            F.when(n > 0,
                   F.aggregate(pieces, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / n)
            .otherwise(F.lit(0.0)),
            4,
        ).alias("avg_piece_len"),
    )


def curated_docs(docs: DataFrame, dedup_groups_df: DataFrame) -> DataFrame:
    """The end-to-end curation keep-list: documents that (a) pass the
    quality gate and (b) are their near-duplicate group's representative
    (group_rep == doc_id — one survivor per duplicate cluster), annotated
    with their whitespace-token budget.

    Composes quality_scores + dedup_groups + token_stats into the single
    decision a training-data pipeline actually ships: keep/drop + cost.
    Joins are on doc_id (the corpus key): at scale both sides arrive
    hash-partitioned on it and the joins co-locate."""
    q = quality_scores(docs).select("doc_id", "quality_ok")
    t = token_stats(docs).select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    return (
        dedup_groups_df.filter(F.col("group_rep") == F.col("doc_id"))
        .join(q, "doc_id")
        .filter(F.col("quality_ok") == 1)
        .join(t, "doc_id")
        .select("doc_id", "n_tokens")
    )
