"""Skew salting for heavy documents (SURVEY §4.2).

Documents with huge span arrays (the fixture's 1% heavy tail; web corpora
routinely have 100×+ outliers) would serialize entire docs through single
tasks at the grouped stages. Salting splits a heavy doc's spans across K
sub-keys for the expensive per-span work, then reassembles by (doc_id,
offset) sort — determinism preserved because reassembly sorts on content
order, never task order (SURVEY §7.3 risk 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salt_spans(
    spans: DataFrame,
    heavy_threshold: int = 1000,
    salt_buckets: int = 16,
    doc_col: str = "doc_id",
    offset_col: str = "offset",
) -> DataFrame:
    """Add a ``salt`` column: 0 for normal docs; pmod(offset, K) for docs whose
    span count exceeds the threshold. Downstream heavy stages repartition on
    (doc_id, salt) so one hot doc spreads over K tasks."""
    counts = spans.groupBy(doc_col).agg(F.count("*").alias("_n_spans"))
    return (
        spans.join(F.broadcast(counts.where(F.col("_n_spans") > heavy_threshold)), doc_col, "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_n_spans").isNotNull(),
                F.pmod(F.col(offset_col), F.lit(salt_buckets)),
            ).otherwise(F.lit(0)),
        )
        .drop("_n_spans")
    )
