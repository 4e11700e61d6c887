"""Text-analysis and similarity Column expressions for training-data pipelines.

All pure Catalyst (JVM-side). The hash primitives are deliberately *portable*
(md5-based) so the DuckDB correctness oracle can reproduce them bit-for-bit —
``xxhash64``/``hash`` would be faster but engine-specific; at 100 TB the md5
cost is still scan-dominated and stays inside whole-stage codegen.
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
    """Lowercase + collapse non-alphanumerics to single spaces + trim."""
    return F.trim(F.regexp_replace(F.lower(col), TOKEN_SPLIT, " "))


def tokens(col: Column) -> Column:
    """Whitespace/punct tokenizer → array<string> (empty-safe)."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles (n-grams) of the normalized text → array<string>.

    The token array is let-bound — without it every ``element_at`` reference
    re-tokenizes the document (observed 150× recompute per doc). And
    ``sequence(1, 0)`` DESCENDS in Spark, so short docs need an explicit
    empty-array guard.
    """
    from micro_lab_ocr_spark.functions.cleaners import let

    def inner(toks: Column) -> Column:
        n = F.size(toks)
        shingles = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
        )
        return F.when(n >= k, shingles).otherwise(F.array().cast("array<string>"))

    return let(tokens(col), inner)


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Character n-grams of normalized text → array<string> (normalized text
    let-bound — see word_shingles)."""
    from micro_lab_ocr_spark.functions.cleaners import let

    def inner(t: Column) -> Column:
        ln = F.length(t)
        grams = F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: F.substring(t, i, F.lit(n)).cast("string"),
        )
        return F.when(ln >= n, grams).otherwise(F.array().cast("array<string>"))

    return let(normalize_text(col), inner)


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: array of ``num_hashes`` lexicographic-min salted
    md5 digests over the shingle set. array_min is a partial-aggregatable
    per-row op — no shuffle.

    NB: the salt must be captured in a real closure — a two-arg lambda
    (``lambda s, i=i``) would make F.transform pass the ARRAY INDEX as ``i``.
    """

    from micro_lab_ocr_spark.functions.cleaners import let

    def inner(sh: Column) -> Column:
        def min_hash(salt: int) -> Column:
            return F.array_min(
                F.transform(sh, lambda s: F.md5(F.concat(s, F.lit(f"#{salt}"))))
            )

        return F.array(*[min_hash(i) for i in range(num_hashes)])

    return let(shingles, inner)


def lsh_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature for LSH: array<struct<band:int, key:string>>.

    Two docs sharing any band key are near-dup candidates (join on key).
    The signature is let-bound so each band key references it without
    recomputing the full MinHash (Catalyst re-inlines plain column refs).
    """
    from micro_lab_ocr_spark.functions.cleaners import let

    def inner(sig: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at(sig, b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("key"),
                )
                for b in range(bands)
            ]
        )

    return let(signature, inner)


def simhash64(col: Column) -> Column:
    """64-bit SimHash over word tokens, built from md5 nibbles (portable).

    For each of 64 bit positions, sum +1/-1 votes across tokens; bit=1 when
    the vote is positive. Bits derive from the md5 hex digest of each token:
    bit i = parity of hex digit i mod 32 (two digests salted for 64 bits).
    """
    from micro_lab_ocr_spark.functions.cleaners import let, let2

    def with_digests(d0: Column, d1: Column) -> Column:
        def bit_votes(bit: int) -> Column:
            # bit 0..63 → salted digest half + hex char position; the two
            # md5 digests per token are computed ONCE (let2-bound arrays) —
            # inlining them here would cost 64 digests per token
            digests = d0 if bit < 32 else d1
            pos = bit % 32
            digit = F.transform(
                digests,
                lambda d: F.when(
                    F.substring(d, pos + 1, 1).rlike("[89abcdef]"), F.lit(1)
                ).otherwise(F.lit(-1)),
            )
            votes = F.aggregate(digit, F.lit(0), lambda acc, x: acc + x)
            return F.when(votes > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")

        out = F.lit(0).cast("long")
        for i in range(64):
            # shiftleft (not a 1<<63 literal — that overflows LongType); bit
            # 63 lands on the sign bit → full two's-complement 64-bit hash
            out = out + F.shiftleft(bit_votes(i), i)
        return out

    def inner(toks: Column) -> Column:
        d0 = F.transform(toks, lambda t: F.md5(F.concat(t, F.lit("#s0"))))
        d1 = F.transform(toks, lambda t: F.md5(F.concat(t, F.lit("#s1"))))
        return let2(d0, d1, with_digests)

    return let(tokens(col), inner)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


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
    length), rounded to 4 dp — as HOF-free, allocation-free counting
    projections built only from codegen-able ``regexp_count`` expressions
    over the ORIGINAL text. Two measured pathologies drove this form over a
    let()-bound token-array one: interpreted HOF subtrees (CodegenFallback)
    burn ~30× the single-thread CPU per row under 32-way concurrency
    (allocation churn in the interpreted eval path), and even codegen'd
    ``regexp_replace`` throttles on memory bandwidth because it
    materializes the normalized string per row. Counting allocates nothing;
    every ratio keeps the int→double division of the token-array
    definition, so rounded outputs match it bit-for-bit (pinned against the
    DuckDB oracle by the t_quality query).
    """
    c = F.col(text_col)
    # every component is a COUNTING regex over the original text — no
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
