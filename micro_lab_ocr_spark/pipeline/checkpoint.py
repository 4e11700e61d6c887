"""Partition-granular checkpoint / lineage / resume (SURVEY §4.2, north rule).

The reference saves its workbook after every page (`backend.py:998-1003`) so
an interrupted run resumes where it stopped. The engine's scale analogue:

* the doc keyspace is split into ``n_buckets`` deterministic partitions
  (``pmod(hash(doc_id), n)`` — the same bucketing an Iceberg
  ``bucket(n, doc_id)`` table gives for free);
* buckets are processed in batches, each batch one plan and one
  ``partitionBy("bucket")`` write into a stage directory inside the output;
  each staged bucket then replaces ``bucket=N`` by rename, its previous
  files kept in a backup until the new ones are in place (IDEMPOTENT: a
  rerun replaces a bucket, it never appends to it);
* a checkpoint table records, per bucket: status, input snapshot id, row
  counts and extraction metrics (lineage), all taken from the batch's write;
* a resumed run reads the checkpoint table and skips buckets already DONE;
* corrections re-extract changed docs through the same write: one batch of
  the affected buckets, whose rows are the bucket's kept rows plus the
  corrected docs' extraction.

Stage and backup names start with ``.`` (``.stage-<first bucket>``,
``.bucket=N.old``), which Spark's file index skips, so a reader of the
output directory never takes a leftover for a partition. A crash between
the two renames of a swap leaves ``bucket=N`` missing with its previous
files in the backup; the next call restores it before anything else.

No custom Catalyst machinery — ordinary application code around idempotent
writes, exactly what a production lakehouse job does. On Iceberg the
checkpoint table would be MERGE'd; on plain parquet we write one small
checkpoint file per bucket (atomic enough at bucket granularity because the
data swap completes before the checkpoint row appears).
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from micro_lab_ocr_spark.sources.catalog import bucket_expr, read_layout_marker


def _bucket_fold(df: DataFrame, n: int) -> Column | None:
    """The partition-prunable column that maps ``df``'s ``bucket=N`` layout
    onto ``n`` checkpoint buckets, or None when the caller must re-hash
    ``doc_id`` instead. The layout's width comes ONLY from the
    ``_bucket_layout.json`` marker recorded at write time
    (catalog.write_layout_marker — the parquet analogue of an Iceberg
    partition spec): the observed ``bucket=N`` directories under-report it
    whenever trailing buckets are empty, and a wrong width silently routes
    docs to the wrong checkpoint buckets. No marker, a column computed
    in-flight, or a width that is not a multiple of ``n`` all mean re-hash.
    When the width is a multiple of ``n``, pmod folds each layout bucket
    onto exactly one checkpoint bucket (h mod KN mod N = h mod N) and the
    filter stays an expression of the partition column alone, so the scan
    prunes to its directories."""
    if "bucket" not in df.columns:
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    roots = set()
    for f in files:
        m = re.search(r"/bucket=\d+/", f)
        if not m:
            return None
        roots.add(re.sub(r"^file:/*", "/", f[: m.start()]))
    layout_n = read_layout_marker(roots.pop()) if len(roots) == 1 else None
    if layout_n is None or layout_n % n:
        return None
    return F.pmod(F.col("bucket"), F.lit(n))


# Driver threads submitting batches. A batch's plan build (DataFrame
# construction, Catalyst analysis, codegen) is DRIVER work that a sequential
# loop serializes with executor compute; submitting from a small pool
# overlaps the next plan's compile with the current batch's execution (py4j
# calls release the GIL; Spark's scheduler interleaves the jobs). Measured
# warm at local[4], 16 batches of one bucket: the pool halves wall time
# (5.9–6.6 s vs 10.0–14.4 s on one thread) at the same CPU.
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
        # by their OWNING doc_id). Each batch then prunes the media scan to
        # its own partition directories instead of re-reading the whole
        # media table once per batch (N× media IO). Never set it for media
        # bucketed on any other key — pruning on a non-owner bucketing would
        # silently degrade matched spans to pass-throughs.
        self.media_copartitioned = media_copartitioned
        # buckets per batch: ONE plan + ONE write per batch (see
        # _extract_and_commit). 1 = bucket-granular crash re-work; larger
        # batches amortize the per-plan cost over more buckets at the price
        # of batch-granular re-work. Measured warm at local[4] on 192
        # MEDIA_HEAVY_MIX docs in 16 buckets: 21–24 core-s per run at batch
        # size 1, 10–14 at 4 and 9–12 at 16, so ~0.75 core-s per extra plan
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
        """Record ``bucket`` DONE. Called only AFTER its data swap completed,
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

    # -- output buckets -------------------------------------------------------

    def _bucket_dirs(self, bucket: int) -> tuple[str, str]:
        """``bucket=N`` and its hidden backup."""
        return (os.path.join(self.output_dir, f"bucket={bucket}"),
                os.path.join(self.output_dir, f".bucket={bucket}.old"))

    def _restore(self) -> None:
        """Put back every bucket a crash left missing between the two
        renames of :meth:`_swap`, and drop a crashed batch's stage. Runs
        before a call reads or replaces any bucket, so the swap's "old or
        new complete bucket, never a mix" contract holds across crashes at
        ANY point."""
        for b in range(self.n_buckets):
            path, bak = self._bucket_dirs(b)
            if not os.path.exists(path) and os.path.exists(bak):
                os.rename(bak, path)
        for stage in glob.glob(os.path.join(self.output_dir, ".stage-*")):
            shutil.rmtree(stage)

    def _swap(self, staged: str, bucket: int) -> None:
        path, bak = self._bucket_dirs(bucket)
        if os.path.exists(bak):  # stale: _restore ran, so bucket=N exists
            shutil.rmtree(bak)
        if os.path.exists(path):
            os.rename(path, bak)
        os.rename(staged, path)
        shutil.rmtree(bak, ignore_errors=True)

    def _extract_and_commit(
        self,
        spark: SparkSession,
        docs: DataFrame,
        media: DataFrame,
        batches: list[list[int]],
        snapshot_id: str,
        upsert: bool = False,
    ) -> list[BucketLineage]:
        """The one data-write path. Per batch: ONE extraction plan over the
        batch's docs, ONE ``partitionBy("bucket")`` write to a hidden stage,
        then a swap per bucket and its lineage row from the write's
        Observation. ``upsert`` adds the rows the output already holds for
        the batch's buckets, minus every doc_id in ``docs`` (a keyed
        replace). A crash mid-batch leaves no checkpoint rows for the batch,
        so resume redoes the whole batch."""
        from micro_lab_ocr_spark.pipeline.extract import normalize_spans

        self._restore()
        if not batches:
            return []
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
        kept = None
        if upsert and glob.glob(os.path.join(self.output_dir, "bucket=*")):
            kept = spark.read.parquet(self.output_dir).join(
                F.broadcast(docs.select("doc_id")), "doc_id", "left_anti"
            )

        def run_batch(batch: list[int]) -> list[BucketLineage]:
            t0 = time.perf_counter()
            batch_media = media
            if media_col is not None:
                batch_media = media.where(media_col.isin(batch)).drop("bucket")
            out = normalize_spans(
                docs.where(bucket_col.isin(batch)).drop("bucket"), batch_media,
                media_present=media_present, media_join=self.media_join,
            ).withColumn("bucket", bucket_expr("doc_id", n))
            if kept is not None:
                out = out.unionByName(kept.where(F.col("bucket").isin(batch)))
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
            stage = os.path.join(self.output_dir, f".stage-{batch[0]}")
            out.observe(obs, *aggs).write.mode("overwrite").partitionBy("bucket").parquet(stage)
            m = obs.get
            for b in batch:
                staged = os.path.join(stage, f"bucket={b}")
                # a bucket with no output rows still replaces its previous
                # files, with one that reads back 0 rows; a zero limit plans
                # as an empty relation, so nothing re-executes
                if not os.path.isdir(staged):
                    out.limit(0).drop("bucket").write.parquet(staged)
                self._swap(staged, b)
            shutil.rmtree(stage)
            wall = round(time.perf_counter() - t0, 3)  # shared by the batch
            return [
                self._commit(b, snapshot_id, m.get(f"docs_{b}"), m.get(f"spans_{b}"), wall)
                for b in batch
            ]

        results: list[BucketLineage] = []
        # each batch's swap + checkpoint rows stay atomic per batch, so a
        # failing batch leaves the others' rows intact; leaving the pool
        # drains every submitted batch before the first error surfaces
        with ThreadPoolExecutor(max_workers=_BATCH_WORKERS) as pool:
            for rows in pool.map(run_batch, batches):
                results.extend(rows)
        return results

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
        ``bucket_batch_size``, each through :meth:`_extract_and_commit`.
        ``fail_at_bucket`` runs the buckets before it, then raises — a
        mid-job crash for resume tests."""
        done = self.done_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        failing = fail_at_bucket in todo
        if failing:
            todo = todo[: todo.index(fail_at_bucket)]
        size = self.bucket_batch_size
        results = self._extract_and_commit(
            spark, docs, media, [todo[i : i + size] for i in range(0, len(todo), size)],
            snapshot_id,
        )
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
        else keeps its bytes and its checkpoint row). They form ONE batch of
        :meth:`_extract_and_commit`: one plan and one write, whose rows are
        the buckets' prior output minus the corrected doc_ids plus the
        corrected docs' extraction; each bucket swaps in whole (a crash
        leaves either the old or the new complete bucket, never a mix), and
        the lineage rows record the corrected counts. Re-applying the same
        corrections is idempotent. On Iceberg this whole method is one
        ``MERGE INTO … WHEN MATCHED THEN UPDATE`` keyed on doc_id.
        """
        affected = sorted(
            r[0] for r in corrected_docs.select(bucket_expr("doc_id", self.n_buckets))
            .distinct().collect()
        )
        return self._extract_and_commit(
            spark, corrected_docs, media, [affected] if affected else [], snapshot_id,
            upsert=True,
        )
