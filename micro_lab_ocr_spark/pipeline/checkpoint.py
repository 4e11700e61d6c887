"""Partition-granular checkpoint / lineage / resume (SURVEY §4.2, north rule).

The reference saves its workbook after every page (`backend.py:998-1003`) so
an interrupted run resumes where it stopped. The engine's scale analogue:

* the doc keyspace is split into ``n_buckets`` deterministic partitions
  (``pmod(hash(doc_id), n)`` — the same bucketing an Iceberg
  ``bucket(n, doc_id)`` table gives for free);
* buckets are processed in batches, each batch one plan and one
  IDEMPOTENT write (output dir keyed by bucket id, dynamic partition
  overwrite);
* a checkpoint table records, per bucket: status, input snapshot id, row
  counts and extraction metrics (lineage);
* a resumed run reads the checkpoint table and skips buckets already DONE.

No custom Catalyst machinery — ordinary application code around idempotent
writes, exactly what a production lakehouse job does. On Iceberg the
checkpoint table would be MERGE'd; on plain parquet we write one small
checkpoint file per bucket (atomic enough at bucket granularity because the
data write completes before the checkpoint row appears).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def _layout_bucket_count(docs: DataFrame) -> int | None:
    """Bucket count of the directory-bucketed layout a scan reads. The
    AUTHORITATIVE source is the ``_bucket_layout.json`` marker recorded at
    write time (catalog.write_layout_marker — the parquet analogue of an
    Iceberg partition spec): inferring the width from observed ``bucket=N``
    directories under-reports when trailing buckets are empty, and a
    wrong-but-divisible inferred width would silently route docs to wrong
    output buckets. The file-listing inference remains only as a fallback
    for pre-marker layouts, None when the paths carry no ``bucket=N``
    partition directories (e.g. the column was computed in-flight), in
    which case the caller must not trust the column."""
    import re

    from micro_lab_ocr_spark.sources.catalog import read_layout_marker

    buckets = set()
    try:
        files = docs.inputFiles()
    except Exception:
        return None
    roots = set()
    for f in files:
        m = re.search(r"/bucket=(\d+)/", f)
        if not m:
            return None
        buckets.add(int(m.group(1)))
        roots.add(re.sub(r"^file:/*", "/", f[: m.start()]))
    if len(roots) == 1:
        marked = read_layout_marker(next(iter(roots)))
        if marked is not None:
            return marked
    return (max(buckets) + 1) if buckets else None


def _bucket_fold(df: DataFrame, n: int) -> Column | None:
    """The partition-prunable column that maps ``df``'s ``bucket=N`` layout
    onto ``n`` checkpoint buckets, or None when ``df`` has no such layout
    (or one the checkpoint cannot trust). The layout's width may differ from
    ``n`` (write_docs defaults to 64, jobs to 16): trusting ``bucket == b``
    for b in range(n) would then silently drop every row in layout buckets
    >= n while recording DONE checkpoints. When the width is a multiple of
    ``n``, pmod folds each layout bucket onto exactly one checkpoint bucket
    (h mod KN mod N = h mod N) and the filter stays an expression of the
    partition column alone, so the scan prunes to its directories."""
    if "bucket" not in df.columns:
        return None
    layout_n = _layout_bucket_count(df)
    if layout_n is None or layout_n % n:
        return None
    return F.pmod(F.col("bucket"), F.lit(n))


# Driver threads submitting batches. A batch's plan build (DataFrame
# construction, Catalyst analysis, codegen) is DRIVER work that a sequential
# loop serializes with executor compute; submitting from a small pool
# overlaps the next plan's compile with the current batch's execution (py4j
# calls release the GIL; Spark's scheduler interleaves the jobs).
_BATCH_WORKERS = 4


@dataclass
class BucketLineage:
    bucket: int
    status: str               # RUNNING | DONE
    snapshot_id: str          # input snapshot identifier
    n_docs: int
    n_spans: int
    wall_sec: float
    finished_at: str


class CheckpointedExtraction:
    def __init__(
        self,
        checkpoint_dir: str,
        output_dir: str,
        n_buckets: int = 16,
        media_join: str = "broadcast",
        media_copartitioned: bool = False,
        bucket_batch_size: int = 1,
    ):
        self.checkpoint_dir = checkpoint_dir
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        # per checkpoint bucket the span-ref projection is bounded by the
        # bucket size, so broadcast is the right default; pass "shuffle_refs"
        # for very large buckets / bucketed media tables (see
        # pipeline.extract.normalize_spans).
        self.media_join = media_join
        # Set ONLY when the media table was written co-partitioned with the
        # docs layout (catalog.write_media_copartitioned: media rows bucketed
        # by their OWNING doc_id). Each bucket run then prunes the media scan
        # to its own partition directory instead of re-reading the whole
        # media table once per bucket (N× media IO). Never set it for media
        # bucketed on any other key — pruning on a non-owner bucketing would
        # silently degrade matched spans to pass-throughs.
        self.media_copartitioned = media_copartitioned
        # buckets per batch: ONE plan + ONE dynamic-partition-overwrite write
        # per batch (see run). 1 = bucket-granular crash re-work; larger
        # batches amortize the per-plan cost over more buckets at the price
        # of batch-granular re-work. Measured warm at local[4] on 192
        # MEDIA_HEAVY_MIX docs in 16 buckets: 25–30 core-s per run at batch
        # size 1, 15–17 at 16, so ~0.7 core-s per extra plan
        self.bucket_batch_size = bucket_batch_size
        os.makedirs(checkpoint_dir, exist_ok=True)

    # -- checkpoint table ---------------------------------------------------

    def _ckpt_path(self, bucket: int) -> str:
        return os.path.join(self.checkpoint_dir, f"bucket_{bucket:05d}.json")

    def done_buckets(self) -> set[int]:
        return {row["bucket"] for row in self.lineage() if row.get("status") == "DONE"}

    def lineage(self) -> list[dict]:
        rows = []
        for bucket in range(self.n_buckets):
            p = self._ckpt_path(bucket)
            if os.path.exists(p):
                with open(p) as f:
                    rows.append(json.load(f))
        return rows

    def _commit(self, bucket: int, snapshot_id: str, n_docs, n_spans, wall: float) -> BucketLineage:
        """Record ``bucket`` DONE. Called only AFTER its data write completed,
        so a checkpoint row never points at a partial bucket."""
        row = BucketLineage(
            bucket=bucket,
            status="DONE",
            snapshot_id=snapshot_id,
            n_docs=int(n_docs or 0),
            n_spans=int(n_spans or 0),
            wall_sec=wall,
            finished_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
        with open(self._ckpt_path(bucket), "w") as f:
            json.dump(asdict(row), f)
        return row

    # -- run ------------------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        docs: DataFrame,
        media: DataFrame,
        snapshot_id: str = "unversioned",
        fail_at_bucket: int | None = None,
    ) -> list[BucketLineage]:
        """Process all not-yet-done buckets in batches of
        ``bucket_batch_size``; each batch's write is idempotent (per-bucket
        output dirs, dynamic partition overwrite). ``fail_at_bucket`` runs
        the buckets before it, then raises — a mid-job crash for resume
        tests."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        from micro_lab_ocr_spark.pipeline.extract import normalize_spans
        from micro_lab_ocr_spark.sources.catalog import bucket_expr

        n = self.n_buckets
        # If the docs table carries the catalog layout's `bucket` partition
        # column (sources/catalog.write_docs), filtering on it gives
        # PARTITION PRUNING — each batch scans only its directories (Iceberg
        # bucket(N, doc_id) metadata pruning on a real cluster); otherwise
        # re-hash doc_id (full scan per batch, but correct).
        bucket_col = _bucket_fold(docs, n)
        if bucket_col is None:
            docs = docs.drop("bucket")
            bucket_col = bucket_expr("doc_id", n)
        # media-side pruning: only under the co-partitioned layout (see
        # __init__), with the same fold rule as the docs side
        media_col = None
        if media is not None:
            if self.media_copartitioned:
                media_col = _bucket_fold(media, n)
            if media_col is None:
                media = media.drop("bucket")
        # probe the media side ONCE — normalize_spans would otherwise fire a
        # driver-side isEmpty() action per batch (16+ eager scans per job)
        media_present = media is not None and not media.isEmpty()

        def run_batch(batch: list[int]) -> list[BucketLineage]:
            """ONE Spark plan + ONE dynamic-partition-overwrite write for a
            batch of buckets. Dynamic overwrite keeps per-bucket output dirs
            and idempotency; a crash mid-batch leaves NO checkpoint rows for
            the batch, so resume redoes the whole batch."""
            t0 = time.perf_counter()
            batch_docs = docs.where(bucket_col.isin(batch)).drop("bucket")
            batch_media = media
            if media_col is not None:
                batch_media = media.where(media_col.isin(batch)).drop("bucket")
            out = normalize_spans(
                batch_docs, batch_media, media_present=media_present,
                media_join=self.media_join,
            ).withColumn("bucket", bucket_expr("doc_id", n))
            # per-bucket lineage metrics ride the WRITE itself (Observation /
            # CollectMetrics) — re-reading the written output for stats would
            # cost a second full decompress pass over every output byte.
            # Unnamed: batches in flight must never share a metric name.
            obs = Observation()
            aggs = []
            for b in batch:
                is_b = F.col("bucket") == b
                aggs.append(F.sum(is_b.cast("long")).alias(f"docs_{b}"))
                aggs.append(
                    F.sum(F.when(is_b, F.size("spans")).otherwise(0)).alias(f"spans_{b}")
                )
            (
                out.observe(obs, *aggs).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(self.output_dir)
            )
            m = obs.get
            # dynamic overwrite only replaces partitions that RECEIVE rows: a
            # bucket producing zero output would keep a previous run's stale
            # files (or, on a fresh output, leave no readable dir at all).
            # Overwrite it with an empty frame — a zero limit plans as an
            # empty relation, so nothing re-executes.
            for b in batch:
                if not m.get(f"docs_{b}"):
                    out.limit(0).drop("bucket").write.mode("overwrite").parquet(
                        os.path.join(self.output_dir, f"bucket={b}")
                    )
            wall = round(time.perf_counter() - t0, 3)  # shared by the batch
            return [
                self._commit(b, snapshot_id, m.get(f"docs_{b}"), m.get(f"spans_{b}"), wall)
                for b in batch
            ]

        done = self.done_buckets()
        todo = [b for b in range(n) if b not in done]
        failing = fail_at_bucket in todo
        if failing:
            todo = todo[: todo.index(fail_at_bucket)]
        size = self.bucket_batch_size
        results: list[BucketLineage] = []
        # each batch's write + checkpoint rows stay atomic per batch, so a
        # failing batch leaves the others' rows intact; leaving the pool
        # drains every submitted batch before the first error surfaces
        with ThreadPoolExecutor(max_workers=_BATCH_WORKERS) as pool:
            futures = [
                pool.submit(run_batch, todo[i : i + size])
                for i in range(0, len(todo), size)
            ]
            for fut in futures:
                results.extend(fut.result())
        if failing:
            raise RuntimeError(f"injected failure at bucket {fail_at_bucket}")
        return results

    # -- S11: keyed corrections upsert ---------------------------------------

    def apply_corrections(
        self,
        spark: SparkSession,
        corrected_docs: DataFrame,
        media: DataFrame,
        snapshot_id: str = "corrections",
    ) -> list[BucketLineage]:
        """Re-extract CHANGED documents and replace them in place, keyed on
        doc_id — the scale analogue of the reference's same-test# sheet
        replacement (`backend_preservation.py:1953-1956`: an existing sheet
        for the test number is deleted and rewritten, not duplicated).

        Only the buckets containing corrected docs are touched (everything
        else keeps its bytes and its checkpoint row). Within a touched
        bucket: prior output rows for corrected doc_ids are dropped, the
        corrected docs re-extract, the bucket rewrites via a
        write-rename-swap (crash mid-swap leaves either the old or the new
        complete bucket, never a mix), and the lineage row records the
        corrected counts. Re-applying the same corrections is idempotent.
        On Iceberg this whole method is one ``MERGE INTO … WHEN MATCHED
        THEN UPDATE`` keyed on doc_id.
        """
        import shutil

        from pyspark.sql import Observation

        from micro_lab_ocr_spark.pipeline.extract import normalize_spans
        from micro_lab_ocr_spark.sources.catalog import bucket_expr

        keyed = corrected_docs.withColumn(
            "_bucket", bucket_expr("doc_id", self.n_buckets)
        )
        affected = sorted(
            r["_bucket"] for r in keyed.select("_bucket").distinct().collect()
        )
        media_present = media is not None and not media.isEmpty()
        results: list[BucketLineage] = []
        for bucket in affected:
            t0 = time.perf_counter()
            path = os.path.join(self.output_dir, f"bucket={bucket}")
            bak = path + ".old"
            # recover an interrupted swap BEFORE reading: a crash between
            # rename(path→bak) and rename(tmp→path) leaves path absent with
            # the complete old bucket stranded in .old — merging against a
            # missing path would then permanently drop every non-corrected
            # doc in the bucket. Restoring .old first makes the swap's
            # "old or new complete bucket, never a mix" contract hold across
            # crashes at ANY point (tmp/.old remnants are re-derivable).
            if not os.path.exists(path) and os.path.exists(bak):
                os.rename(bak, path)
            bucket_corrected = keyed.where(F.col("_bucket") == bucket).drop("_bucket")
            new_rows = normalize_spans(
                bucket_corrected, media,
                media_present=media_present, media_join=self.media_join,
            )
            if os.path.exists(path):
                old = spark.read.parquet(path)
                kept = old.join(
                    F.broadcast(bucket_corrected.select("doc_id")), "doc_id", "left_anti"
                )
                merged = kept.unionByName(new_rows)
            else:
                merged = new_rows
            tmp = path + ".tmp"
            obs = Observation()
            merged.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
            ).write.mode("overwrite").parquet(tmp)
            if os.path.exists(bak):
                shutil.rmtree(bak)
            if os.path.exists(path):
                os.rename(path, bak)
            os.rename(tmp, path)
            if os.path.exists(bak):
                shutil.rmtree(bak)
            stats = obs.get
            results.append(self._commit(
                bucket, snapshot_id, stats["n_docs"], stats["n_spans"],
                round(time.perf_counter() - t0, 3),
            ))
        return results
