"""The benchmark's workloads: seeded inputs, staging, one timed pass, the
output check against the pure-Python oracle, and the kernel payloads the
traced run times in-process.

* ``media_job`` — a media-heavy corpus in the production layout
  (``catalog.write_docs`` + ``catalog.write_media_copartitioned``, one
  bucket) run through ``CheckpointedExtraction`` with its defaults
  otherwise (one plan per bucket, broadcast refs), parquet output and
  lineage. Its work is the branch fan-out, exchanges, the W2 window and
  reassembly, the html / Upstage / OCR / PDF kernels, ``grid_extract``, the
  broadcast ref joins, the bucket's plan compile and the committed write.
* ``query_ops`` — five of ``bench.py``'s headline queries, one per operator
  family the extraction workload never reaches (``functions.text``,
  ``operators.dedup``, ``operators.ann``, ``operators.sampling``,
  ``functions.cleaners``), over checked-in copies of the sf0.001 test
  tables, each into a ``noop`` sink and checked against its DuckDB oracle.
  Its input is fixed, so the seed selects nothing.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

from pyspark.sql import functions as F

from micro_lab_ocr_spark.kernels import html as html_kernel
from micro_lab_ocr_spark.kernels import ocr as ocr_kernel
from micro_lab_ocr_spark.kernels import pdf as pdf_kernel
from micro_lab_ocr_spark.kernels import upstage as upstage_kernel
from micro_lab_ocr_spark.oracle import extract as oracle
from micro_lab_ocr_spark.operators import drm
from micro_lab_ocr_spark.sources import catalog, fixtures

# Input sizes. A Spark session start costs 4–10 s and a cold pass 7–30 s on a
# 4-core host, and the whole benchmark must fit a fixed time budget, so the
# inputs are small: fixed per-pass costs (plan build, compile, scheduling)
# are a real share of what the workloads measure.
MEDIA_DOCS = 24
MEDIA_BUCKETS = 1  # the library default is 16: one plan compile per bucket per pass
KERNELS = ("html", "upstage", "ocr", "pdf")  # kernels timed in-process when traced
KERNEL_SAMPLE = 120  # payloads per kernel in the traced in-process timing
QUERY_LEAVES = ("t_quality", "dedup_minhash_lsh", "ann_lsh_cosine_topk", "t_sample_stratified",
                "f3_id_extraction")
# copies of the repository's sf0.001 test tables the leaves read (500
# documents, 500 embeddings, 1500 orders); see perfbench/README.md
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
QUERY_TABLES = ("documents", "embeddings", "orders")
# DuckDB oracle results for that fixed input, kept between the runs of one
# checkout: the MinHash-LSH oracle alone costs ~11 core-seconds
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench", "oracle")
QUERY_DOCS = 500


class Workload:
    """One workload's inputs and passes. ``work`` is a scratch directory the
    workload owns for the life of the run."""

    name = ""
    seeded = True  # False: the input is fixed and --seed selects nothing
    docs: list[dict]
    media: list[dict]

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.expected: dict[str, list[tuple]] = {}

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def expect(self) -> None:
        """Oracle output per doc, as ``(kind, text, media_ref, offset)``."""
        media = {m["media_ref"]: m["content"] for m in self.media}
        self.expected = {
            d["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in oracle.normalize_document(d["doc_id"], d["spans"], media)]
            for d in self.docs
        }

    def mismatches(self, got: dict[str, list[tuple]]) -> int:
        """Docs whose span sequence differs from the oracle, or that are
        missing or unexpected in the output."""
        bad = sum(1 for k, v in self.expected.items() if got.get(k) != v)
        return bad + sum(1 for k in got if k not in self.expected)

    @staticmethod
    def collect_spans(df) -> dict[str, list[tuple]]:
        return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
                for r in df.collect()}

    def kernel_payloads(self) -> dict[str, list]:
        """A seeded sample of this workload's own payloads per kernel."""
        rng = random.Random(self.seed)
        media = {m["media_ref"]: m["content"] for m in self.media}
        by_kind: dict[str, list] = {k: [] for k in KERNELS}
        for d in self.docs:
            for s in d["spans"]:
                k, blob = s["kind"], media.get(s["media_ref"])
                if k == "html":
                    by_kind["html"].append(s["text"])
                elif k == "table_html":
                    by_kind["upstage"].append(s["text"])
                elif k == "image" and blob and blob.startswith(
                        (drm.MLIMG_MAGIC, drm.PNG_MAGIC, drm.JPEG_MAGIC)):
                    by_kind["ocr"].append(blob)
                elif k == "pdf" and blob and (blob.startswith(drm.MLPDF_MAGIC) or (
                        blob.startswith(drm.PDF_MAGIC) and b"/Encrypt" not in blob)):
                    by_kind["pdf"].append(blob)
        return {k: rng.sample(v, min(KERNEL_SAMPLE, len(v))) for k, v in by_kind.items()}


def run_kernel(kind: str, payload) -> bool:
    """One kernel call as the pipeline makes it; False when the call takes
    the kernel's failure route (OCR decode error, PDF without text layer)."""
    if kind == "html":
        html_kernel.extract_main_content(payload)
    elif kind == "upstage":
        rows = html_kernel.parse_first_table(payload)
        if rows and len(rows) >= 3:
            upstage_kernel.date_header(rows)
            upstage_kernel.parse_page_records(rows)
    elif kind == "ocr":
        try:
            ocr_kernel.decode_image(payload)
        except ocr_kernel.DECODE_ERRORS:
            return False
    elif kind == "pdf":
        try:
            pdf_kernel.layout_text(payload)
        except ValueError:
            return False
    return True


class MediaJob(Workload):
    name = "media_job"

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.docs, self.media, _ = fixtures.generate_corpus(
            n_docs=MEDIA_DOCS, seed=seed, skew=False, mix=fixtures.MEDIA_HEAVY_MIX)
        self.docs_path = self.scan_path = os.path.join(work, "docs_bucketed")
        self.media_path = os.path.join(work, "media_cp")
        self.ckpt, self.out = os.path.join(work, "ckpt"), os.path.join(work, "out")
        self.lineage: list = []

    def stage(self, spark) -> None:
        """The docs and media in the catalog layout. The generated rows reach
        Spark as plain parquet written by pyarrow, so the set-up's Spark work
        is the two catalog writes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                          ("media_ref", pa.string()), ("offset", pa.int32())])
        raw_docs, raw_media = os.path.join(self.work, "raw_docs.parquet"), os.path.join(self.work, "raw_media.parquet")
        pq.write_table(pa.table({"doc_id": [d["doc_id"] for d in self.docs],
                                 "spans": pa.array([d["spans"] for d in self.docs], pa.list_(span))}), raw_docs)
        pq.write_table(pa.table({"media_ref": [m["media_ref"] for m in self.media],
                                 "content": pa.array([m["content"] for m in self.media], pa.binary())}), raw_media)
        catalog.write_docs(spark, spark.read.parquet(raw_docs), self.docs_path, n_buckets=MEDIA_BUCKETS)
        catalog.write_media_copartitioned(
            spark, spark.read.parquet(raw_media), self.media_path,
            owner_doc_id=F.split(F.col("media_ref"), "/").getItem(2), n_buckets=MEDIA_BUCKETS)

    def inputs(self, spark):
        return (catalog.read_docs(spark, self.docs_path, keep_bucket=True),
                spark.read.parquet(self.media_path))

    def one_pass(self, spark, tr, collect: bool = False) -> None:
        from micro_lab_ocr_spark.pipeline.checkpoint import CheckpointedExtraction

        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)
        job = CheckpointedExtraction(self.ckpt, self.out, n_buckets=MEDIA_BUCKETS,
                                     media_copartitioned=True)
        self.lineage = job.run(spark, *self.inputs(spark))

    def frame(self, spark):
        """The plan one pass compiles (for plan counts)."""
        from micro_lab_ocr_spark.pipeline.extract import normalize_spans

        docs, media = self.inputs(spark)
        return normalize_spans(docs.drop("bucket"), media.drop("bucket"),
                               media_present=True, media_join="broadcast")

    def check(self, spark, _) -> dict:
        """Checks the last pass's committed output and its lineage."""
        out = spark.read.parquet(self.out)
        got = self.collect_spans(out)
        n_spans = sum(len(v) for v in got.values())
        lineage_ok = (sum(b.n_docs for b in self.lineage) == len(self.docs)
                      and sum(b.n_spans for b in self.lineage) == n_spans)
        return {"mismatch_docs": self.mismatches(got), "lineage_ok": lineage_ok}

    def grids(self, spark):
        """OCR output of every decodable image, decoded in-process and staged
        as parquet: the input ``grid_extract.extract_page_lines`` consumes."""
        media = {m["media_ref"]: m["content"] for m in self.media}
        rows = []
        for d in self.docs:
            for s in d["spans"]:
                blob = media.get(s["media_ref"])
                if s["kind"] != "image" or not blob or not blob.startswith(
                        (drm.MLIMG_MAGIC, drm.PNG_MAGIC, drm.JPEG_MAGIC)):
                    continue
                try:
                    cells, ok = ocr_kernel.decode_image(blob), True
                except ocr_kernel.DECODE_ERRORS:
                    cells, ok = [], False
                rows.append((d["doc_id"], s["offset"], s["media_ref"], s["text"], ok, cells))
        path = os.path.join(self.work, "grids")
        spark.createDataFrame(rows, "doc_id string, offset int, media_ref string, span_text string, "
                                    "ok boolean, cells array<struct<row:int,col:int,text:string>>"
                              ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)


class QueryOps(Workload):
    name = "query_ops"
    n_docs = QUERY_DOCS  # rows of the documents table

    seeded = False  # fixed input: the seed selects nothing

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.docs, self.media = [], []
        self.sf_dir = QUERY_DATA
        self.scan_path = self.table("documents")

    def expect(self) -> None:
        """Each leaf's DuckDB ``oracle_sql`` result over the same files,
        normalized as ``tests/test_queries_oracle.py`` does. It is cached in
        ``ORACLE_CACHE`` under a hash of the oracle SQL, the input tables,
        the normalizer's module and the DuckDB version, so a change to any of
        them recomputes it."""
        import duckdb

        from micro_lab_ocr_spark import queries
        from tests import test_queries_oracle

        sql = queries.oracle_sql_dict()
        key = hashlib.sha256(duckdb.__version__.encode())
        for leaf in QUERY_LEAVES:
            key.update(sql[leaf].encode())
        for path in (*(self.table(t) for t in QUERY_TABLES), test_queries_oracle.__file__):
            with open(path, "rb") as f:
                key.update(f.read())
        cache = os.path.join(ORACLE_CACHE, key.hexdigest() + ".json")
        if os.path.exists(cache):
            with open(cache) as f:
                self.expected = json.load(f)
            return
        con = duckdb.connect()
        for t in QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.table(t)}')")
        self.expected = {leaf: self.normalize(con.execute(sql[leaf]).fetch_df()) for leaf in QUERY_LEAVES}
        con.close()
        os.makedirs(ORACLE_CACHE, exist_ok=True)
        with open(cache + f".{os.getpid()}", "w") as f:
            json.dump(self.expected, f)
        os.replace(cache + f".{os.getpid()}", cache)

    def table(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    @staticmethod
    def normalize(pdf) -> list:
        """``_normalize``'s (columns, rows) in its JSON form."""
        from tests.test_queries_oracle import _normalize

        return json.loads(json.dumps(_normalize(pdf)))

    def stage(self, spark) -> None:
        pass  # the leaves read the checked-in tables in place

    def one_pass(self, spark, tr, collect: bool = False):
        from micro_lab_ocr_spark import queries

        qd, results = queries.queries_dict(), {}
        for leaf in QUERY_LEAVES:
            spark.sparkContext.setJobDescription(f"{self.name}:{leaf}")
            with tr.span(f"query.{leaf}"):
                df = qd[leaf](spark, self.sf_dir)
                if collect:
                    results[leaf] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        return results

    def frame(self, spark):
        from micro_lab_ocr_spark import queries

        return queries.queries_dict()["dedup_minhash_lsh"](spark, self.sf_dir)

    def check(self, spark, results) -> dict:
        """Leaves whose result differs from the DuckDB oracle (columns, row
        count or any normalized value)."""
        bad = sum(self.normalize(results[leaf]) != self.expected[leaf] for leaf in QUERY_LEAVES)
        return {"mismatch_docs": bad, "lineage_ok": True}

    def kernel_payloads(self) -> dict[str, list]:
        return {k: [] for k in KERNELS}


WORKLOADS = {w.name: w for w in (MediaJob, QueryOps)}
