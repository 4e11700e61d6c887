"""Text-analysis and similarity Column expressions for training-data pipelines.

All pure Catalyst (JVM-side). The fingerprint hash is deliberately *portable*
(md5-based) so the DuckDB correctness oracle can reproduce it bit-for-bit —
``xxhash64``/``hash`` would be faster but engine-specific; at 100 TB the md5
cost is still scan-dominated and stays inside whole-stage codegen. The
SimHash / MinHash signatures run as numpy kernels (kernels.texthash) over the
same normalization.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small English stopword list (public-domain, fixed for determinism).
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "that", "this", "be", "are",
]

TOKEN_SPLIT = r"[^a-zA-Z0-9]+"


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse non-alphanumerics to single spaces + trim.

    U+0130 (İ) folds to ``I`` first: JVM ``lower()`` turns it into ``i`` +
    U+0307, which the split rule would cut into two tokens, while DuckDB's
    ``lower()`` gives plain ``i``. It is the only code point whose
    normalization differs between the two engines."""
    lowered = F.lower(F.translate(col, "İ", "I"))
    return F.trim(F.regexp_replace(lowered, TOKEN_SPLIT, " "))


def tokens(col: Column) -> Column:
    """Whitespace/punct tokenizer → array<string> (empty-safe)."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Character n-grams of normalized text → array<string>. The normalized
    text is let-bound: without it every ``substring`` reference re-normalizes
    the document. ``sequence(1, 0)`` DESCENDS in Spark, so short texts need
    the explicit empty-array guard."""
    from micro_lab_ocr_spark.functions.cleaners import let

    def inner(t: Column) -> Column:
        ln = F.length(t)
        grams = F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: F.substring(t, i, F.lit(n)).cast("string"),
        )
        return F.when(ln >= n, grams).otherwise(F.array().cast("array<string>"))

    return let(normalize_text(col), inner)


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two string arrays (treated as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


# ---------------------------------------------------------------------------
# language ID / quality scoring (SURVEY training-data ops)
# ---------------------------------------------------------------------------


def _sw_ratio_of(toks: Column) -> Column:
    sw = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(sw / F.size(toks))


def stopword_ratio(col: Column) -> Column:
    from micro_lab_ocr_spark.functions.cleaners import let

    return let(tokens(col), _sw_ratio_of)


def detect_language(col: Column) -> Column:
    """Heuristic n-gram language ID: en / ko / unknown.

    CJK-dominant → 'ko'; stopword ratio ≥ 5% → 'en'; else 'unknown'.
    """
    hangul = F.length(F.regexp_replace(col, r"[^가-힣]", ""))
    total = F.greatest(F.length(col), F.lit(1))
    return (
        F.when(hangul / total > 0.2, F.lit("ko"))
        .when(stopword_ratio(col) >= 0.05, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def quality_staged(df, text_col: str, ratio_alias: str = "stopword_ratio",
                   quality_alias: str = "quality"):
    """t_quality: ``round(stopword_ratio(c), 4)`` and the composite
    document-quality score in [0,1] — the mean of four clipped linear
    components (length, punctuation density, stopword ratio, mean word
    length), rounded to 4 dp — as HOF-free counting projections built only
    from codegen-able ``regexp_count`` expressions over the original text
    (two code points folded, see below). Two measured pathologies drove this
    form over a let()-bound token-array one: interpreted HOF subtrees
    (CodegenFallback) burn ~30× the single-thread CPU per row under 32-way
    concurrency (allocation churn in the interpreted eval path), and even
    codegen'd ``regexp_replace`` throttles on memory bandwidth because it
    materializes the normalized string per row. Every ratio keeps the
    int→double division of the token-array definition, so rounded outputs
    match it bit-for-bit (pinned against the DuckDB oracle by the t_quality
    query and by tests/test_operators.py over the Unicode parity texts).
    """
    # U+0130 (İ) and U+212A (Kelvin K) are the only non-ASCII code points
    # whose DuckDB lower() lands in [a-z0-9]; folding them 1:1 to ASCII
    # first keeps every count, and length(), equal to the oracle's.
    df = df.withColumn("_tq_text", F.translate(F.col(text_col), "\u0130\u212a", "IK"))
    c = F.col("_tq_text")
    # every component is a COUNTING regex over the folded text — no
    # normalized string is ever built (regexp_replace materializing the
    # normalized copy was the dominant cost: string building is memory
    # traffic, counting is not; measured 2.5 s vs 0.25 s per pass at sf1.0):
    #   * tokens of normalize_text == maximal [a-zA-Z0-9]+ runs, so
    #     n_tok = regexp_count(text, '[a-zA-Z0-9]+');
    #   * length(normalize_text) == alnum chars + (n_tok−1) single-space
    #     separators;
    #   * a stopword token == a case-insensitive maximal-run match, expressed
    #     with alnum lookarounds (NOT \\b: '_' is a \\b word char but a
    #     normalize separator).
    sw_pat = (
        r"(?i)(?<![a-zA-Z0-9])(?:" + "|".join(STOPWORDS) + r")(?![a-zA-Z0-9])"
    )
    df = df.withColumns(
        {
            "_tq_ntok": F.regexp_count(c, F.lit(r"[a-zA-Z0-9]+")),
            "_tq_nsw": F.regexp_count(c, F.lit(sw_pat)),
            "_tq_nalnum": F.regexp_count(c, F.lit(r"[a-zA-Z0-9]")),
            "_tq_punct": F.regexp_count(c, F.lit(r"[!?.,;:]")),
        }
    )
    n_tok = F.col("_tq_ntok")
    norm_len = F.when(n_tok == 0, F.lit(0)).otherwise(
        F.col("_tq_nalnum") + n_tok - 1
    )
    swr = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.col("_tq_nsw").cast("double") / n_tok.cast("double")
    )
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    punct = F.col("_tq_punct")
    punct_ratio = punct / F.greatest(F.length(c), F.lit(1))
    punct_score = F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))
    sw_score = F.least(swr * 4, F.lit(1.0))
    mean_wlen = norm_len / F.greatest(n_tok, F.lit(1))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 10), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    df = df.withColumns(
        {
            ratio_alias: F.round(swr, 4),
            quality_alias: F.round(
                (len_score + punct_score + sw_score + wlen_score) / 4, 4
            ),
        }
    )
    return df.drop(*[col for col in df.columns if col.startswith("_tq_")])


def doc_fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of normalized text (content-defined key for
    exact dedup; portable across engines)."""
    return F.md5(normalize_text(col))
