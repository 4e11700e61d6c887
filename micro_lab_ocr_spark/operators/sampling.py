"""Deterministic hash sampling for training-data pipelines.

A 100-TB corpus job cannot sample with ``rand()`` / ``TABLESAMPLE``: both are
nondeterministic across retries and cluster sizes, so a resumed or re-planned
run (AQE, speculative tasks, checkpoint restart — pipeline/checkpoint.py's
whole contract) would emit a DIFFERENT sample. Hashing a stable key instead
makes the sample a pure function of the data: every executor, run, and
cluster size selects the same rows, the predicate is a map-side filter (no
shuffle, no state), and the rate is tuned by the hex-prefix threshold.

The reference app has no sampling stage (interactive, one document at a
time); this operator is part of the training-data surface the engine adds on
top (SURVEY §2.8 analogue — corpus curation ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def hash_sample_flag(id_col: Column, threshold_hex: str) -> Column:
    """Boolean sampling flag: md5(id) hex prefix < ``threshold_hex``.

    The md5 hex digest is uniform in [0x00.., 0xff..], so a lexicographic
    prefix comparison samples at rate int(threshold_hex, 16) / 16**len.
    Lexicographic string compare is identical in Spark and ANSI SQL, which
    keeps the operator oracle-checkable without any engine-specific hashing
    (Spark's ``hash()`` and DuckDB's ``hash()`` disagree; md5 is portable).
    """
    width = len(threshold_hex)
    return F.substring(F.md5(id_col.cast("string")), 1, width) < F.lit(threshold_hex)


def stratified_sample_summary(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    threshold_hex: str,
    measure_col: str,
) -> DataFrame:
    """Per-stratum audit of a deterministic sample: total rows, sampled rows,
    and the sampled mean of ``measure_col`` — the table a curation run
    publishes so the sampled mix per stratum (language, source, length band)
    is inspectable before committing a training shard.

    One hash-partition shuffle on the (low-cardinality) strata key; the
    sampling flag itself is map-side.
    """
    flag = hash_sample_flag(F.col(id_col), threshold_hex)
    return (
        df.groupBy(F.col(strata_col).alias("stratum"))
        .agg(
            F.count("*").alias("n_total"),
            F.sum(flag.cast("long")).alias("n_sampled"),
            F.round(F.avg(F.when(flag, F.col(measure_col))), 2).alias("sampled_mean"),
        )
    )
