#!/usr/bin/env python
"""Benchmark harness (driver contract).

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

``--single-flagship N`` times only the flagship extraction at local[N].
The N→4N scaling protocol is ``scripts/scaling.py``; per-layer detail is
``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "w1_filldown",
    "sessionize",
    "r3_pivot",
    "t_quality",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_brute_cosine_topk",
    "ann_lsh_cosine_topk",
    "ann_ivf_cosine_topk",
    "f6_f7_clean_chain",
    "f3_id_extraction",
    "t_sample_stratified",
    "emb_quantize_int8",
]


def _sf_label(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_suite(parallelism: int, sf_dir: str, include_queries: bool = True) -> dict:
    """Headline suite. min-of-N per query (N = $SPARK_GRAFT_BENCH_REPS,
    default 3): this box shows up to ±80% wall noise between byte-identical
    runs, so a single-shot headline is a coin flip — the min is the standard
    noise-resistant estimator (reps interleaved across the whole suite so
    host noise hits every query evenly)."""
    from micro_lab_ocr_spark import queries as Q
    from micro_lab_ocr_spark.session import get_spark

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark("bench", parallelism=parallelism)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    mult = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_MULT", "1"))
    n_docs = Q.load(spark, sf_dir, "documents").count() * mult
    if os.environ.get("SPARK_GRAFT_WARMUP"):
        Q.flagship_entry(spark, sf_dir).write.format("noop").mode("overwrite").save()

    qd = Q.queries_dict()
    raw: dict[str, list[float]] = {}
    for _ in range(max(reps, 1)):
        t0 = time.perf_counter()
        Q.flagship_entry(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t = round(time.perf_counter() - t0, 3)
        raw.setdefault("flagship_extract", []).append(t)
        timings["flagship_extract"] = min(timings.get("flagship_extract", t), t)
        if include_queries:
            for name in HEADLINE:
                t0 = time.perf_counter()
                qd[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                t = round(time.perf_counter() - t0, 3)
                raw.setdefault(name, []).append(t)
                timings[name] = min(timings.get(name, t), t)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "extraction+query suite wall time (min-of-%d per query)" % reps,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "raw_walls": raw,  # every sample behind each min — methodology stays auditable
        "sf": _sf_label(sf_dir),
        "cpus": parallelism,
        "docs": n_docs,
        "docs_per_sec": round(n_docs / timings["flagship_extract"], 2),
    }
    spark.stop()
    return result


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--single-flagship":
        print(json.dumps(run_suite(int(sys.argv[2]), SF_DIR, include_queries=False)))
    else:
        print(json.dumps(run_suite(CPUS, SF_DIR)))
