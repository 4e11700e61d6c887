"""Table-format adapter: Iceberg when available, bucketed parquet otherwise.

The north rule targets Iceberg tables bucketed on doc_id (`PARTITIONED BY
(bucket(N, doc_id))`) so the pipeline's doc-keyed windows and the final
reassembly ride storage partitioning (Spark SPJ) with no shuffle. This
container ships no Iceberg runtime jar, so the adapter:

* emits the exact DDL + writer calls used on a real cluster (kept here so the
  job is copy-paste deployable), and
* falls back to directory-bucketed parquet locally — same bucket function
  (``pmod(xxhash64(doc_id), n)``) the checkpoint module uses, so resume
  granularity and join co-location semantics match what Iceberg would give.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

ICEBERG_DOCS_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.documents_interleaved (
  doc_id string,
  spans  array<struct<kind:string, text:string, media_ref:string, offset:int>>
) USING iceberg
PARTITIONED BY (bucket({n_buckets}, doc_id))
TBLPROPERTIES (
  'write.distribution-mode' = 'hash',
  'read.split.target-size'  = '134217728'
)
"""

ICEBERG_WRITE = "df.writeTo('{catalog}.{db}.documents_interleaved').append()"
# storage-partitioned joins/aggregations (no shuffle over the bucket key).
# Version matrix (public docs/source these confs come from — the contract
# test asserts the spark.sql.* keys against the running Spark build):
#   spark.sql.sources.v2.bucketing.enabled            Spark ≥ 3.3 (SPARK-37377)
#   spark.sql.sources.v2.bucketing.pushPartValues.enabled  Spark ≥ 3.4 (SPARK-40086)
#   spark.sql.requireAllClusterKeysForCoPartition     Spark ≥ 3.3 (SPARK-41413)
#   spark.sql.iceberg.planning.preserve-data-grouping Iceberg runtime ≥ 1.2
# No Iceberg jar ships in this container, so the Iceberg-side key is checked
# structurally only; the three Spark-side keys must exist in the build.
ICEBERG_SPJ_CONFS = {
    "spark.sql.sources.v2.bucketing.enabled": "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled": "true",
    "spark.sql.iceberg.planning.preserve-data-grouping": "true",
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def bucket_expr(key_col: str, n_buckets: int):
    """The directory-bucket function — shared with pipeline/checkpoint so
    resume granularity and partition pruning line up with the written layout
    (Iceberg's bucket(N, col) plays this role on a real cluster)."""
    return F.pmod(F.xxhash64(key_col), F.lit(n_buckets))


def write_docs(
    spark: SparkSession,
    df: DataFrame,
    path_or_table: str,
    n_buckets: int = 64,
    row_group_bytes: int | None = None,
) -> None:
    """Write the docs table bucketed on doc_id (media goes through
    :func:`write_media_bucketed` or :func:`write_media_copartitioned`).

    ``row_group_bytes`` bounds the parquet row-group size. Scan parallelism
    is ROW-GROUP-granular, not split-granular: a split processes only row
    groups whose midpoint it covers, so a file with one default-128MB row
    group is ONE task no matter how many splits the planner cuts (measured
    on the scaling corpus: 8 one-group files capped the decode-kernel stage
    at 8 effective tasks on 16 cores). Set it whenever files-per-bucket is
    small relative to target parallelism; on a 10^12-doc corpus with
    thousands of files per bucket the default is fine."""
    if iceberg_available(spark):
        spark.sql(
            ICEBERG_DOCS_DDL.format(catalog="spark_catalog", db="default", n_buckets=n_buckets)
        )
        df.writeTo(path_or_table).append()
        return
    # parquet fallback: directory bucketing by the same hash
    w = (
        df.withColumn("bucket", bucket_expr("doc_id", n_buckets))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.partitionBy("bucket").parquet(path_or_table)
    write_layout_marker(path_or_table, n_buckets, "doc_id")


def write_layout_marker(path: str, n_buckets: int, key_col: str) -> None:
    """Record the bucket layout EXPLICITLY at write time (the parquet
    analogue of an Iceberg partition-spec table property). Readers must not
    infer the width from observed ``bucket=N`` directories: trailing EMPTY
    buckets under-report it, and a wrong-but-divisible inferred width (24
    seen as 16) would let the checkpoint runner trust the bucket column and
    route docs to the wrong output buckets. The leading underscore keeps the
    file invisible to Spark's parquet scanner."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_bucket_layout.json"), "w") as f:
        _json.dump({"n_buckets": n_buckets, "key_col": key_col}, f)


def read_layout_marker(path: str) -> int | None:
    """Bucket count recorded by :func:`write_layout_marker`, else None."""
    import json as _json
    import os as _os

    p = _os.path.join(path, "_bucket_layout.json")
    try:
        with open(p) as f:
            n = _json.load(f).get("n_buckets")
        return int(n) if n else None
    except (OSError, ValueError):
        return None


ICEBERG_MEDIA_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.media (
  media_ref string,
  content   binary
) USING iceberg
PARTITIONED BY (bucket({n_buckets}, media_ref))
TBLPROPERTIES ('write.distribution-mode' = 'hash')
"""


def write_media_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Write the media table BUCKETED on media_ref and return the re-read.

    This is the storage layout that makes ``media_join="shuffle_refs"``
    content-stationary: a scan of a bucketed table reports hash partitioning
    on media_ref, so a join against it needs NO exchange on the media side —
    only the narrow span-ref projection shuffles (on Iceberg the same
    property comes from ``bucket(N, media_ref)`` + storage-partitioned
    joins; locally, Spark's native bucketed table gives it outright).
    """
    if iceberg_available(spark):
        spark.sql(ICEBERG_MEDIA_DDL.format(catalog="spark_catalog", db="default", n_buckets=n_buckets))
        df.writeTo(table).append()
        return spark.read.table(table)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "media_ref")
        .sortBy("media_ref")
        .option("path", path)
        .saveAsTable(table)
    )
    return spark.read.table(table)


def write_media_copartitioned(
    spark: SparkSession,
    media: DataFrame,
    path: str,
    owner_doc_id,
    n_buckets: int = 64,
    row_group_bytes: int | None = None,
) -> None:
    """Write the media table CO-PARTITIONED with the docs layout: each media
    row lands in the bucket of its OWNING document (``owner_doc_id`` is a
    Column expression deriving the doc key from the media row). A per-bucket
    checkpoint run can then prune BOTH scans to 1/N of the bytes — without
    this, every bucket job re-reads the whole media table (N× total media
    IO per pass). On Iceberg: ``PARTITIONED BY (bucket(N, owner_doc_id))``
    with the same hash.

    ``row_group_bytes``: see :func:`write_docs` — binary-heavy media tables
    with few files per bucket NEED bounded row groups or the decode-kernel
    scan stage degrades to one task per file."""
    w = (
        media.withColumn("bucket", F.pmod(F.xxhash64(owner_doc_id), F.lit(n_buckets)))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.partitionBy("bucket").parquet(path)
    write_layout_marker(path, n_buckets, "owner_doc_id")


def read_docs(spark: SparkSession, path_or_table: str, keep_bucket: bool = False) -> DataFrame:
    """Read a table written by :func:`write_docs`. ``keep_bucket=True``
    retains the directory-partition column so callers (the checkpoint
    runner) can filter on it and get PARTITION PRUNING instead of a full
    scan per bucket."""
    if path_or_table.startswith(("spark_catalog.", "iceberg.")):
        return spark.read.table(path_or_table)
    df = spark.read.parquet(path_or_table)
    if keep_bucket or "bucket" not in df.columns:
        return df
    return df.drop("bucket")
