"""SparkSession factory with scale-oriented defaults.

Local mode stands in for a multi-executor cluster (sandbox constraint); every
config below is written as it would be for a real 1000-executor run, with the
local numbers derived from core count so the same code ships unchanged via
``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap default: 32g, capped at half the host's physical memory
    (``MemTotal`` in /proc/meminfo) so the local driver JVM — which in local
    mode also runs every executor task — cannot outgrow a small host and be
    OOM-killed. Hosts without /proc/meminfo get the plain 32g."""
    cap_mb = 32 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    cap_mb = min(cap_mb, int(line.split()[1]) // 1024 // 2)
                    break
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "micro-lab-ocr-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the extraction workload.

    Parameters
    ----------
    parallelism:
        Local core count (``local[N]``). Defaults to ``$SPARK_GRAFT_CPUS`` or
        all cores. On a real cluster this arg is ignored by spark-submit.
    shuffle_partitions:
        Defaults to ``2 * parallelism`` locally; on a 100 TB corpus this is
        instead sized as ``corpus_bytes / 128MB`` (AQE coalesces down).
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * parallelism, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        # --- shuffle & adaptive execution -------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # ObjectHashAggregate sort-based fallback stays at the DEFAULT (128
        # keys): an A/B probe of the production job at local[16] measured the
        # raised-threshold hash path at +33% executor CPU and 4× the GC of
        # the fallback (the map holds every group's collect buffer live;
        # the fallback streams groups off one sort the partitioning already
        # paid for).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
        # generated-class cache sized to the plans, not the default 100: a
        # cold media_job pass (24-doc checkpointed extraction, local[4])
        # compiles 36 generated classes, a query_ops pass ~106. At 100 the
        # LRU cache thrashed and Janino recompiled ~265 classes per warm
        # media_job pass when the grid DAG was in the plan (measured at
        # local[4]: 28–35 core-s per warm pass at 100, 15–21 at 1024, peak
        # RSS not higher). 1024 leaves room for a multi-bucket job's plans.
        # Static conf: takes effect only when the session is created.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # --- scans -------------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # floor the scan split count at 8×cores: on a 100 TB corpus the
        # 128 MB cap dominates (thousands of splits), but on a small corpus
        # the default packing collapses to a handful of splits and the
        # scan-rooted PYTHON-KERNEL stages become wave-quantized — with
        # 1–2 waves of coarse, skew-heavy tasks the longest task sets the
        # stage wall and extra cores buy nothing (measured: the html/upstage
        # kernel stages went 124 s@4c → 96 s@16c, a 1.3× speedup on 4×
        # cores, before this floor was raised from 2× to 8×)
        .config("spark.sql.files.minPartitionNum", str(8 * parallelism))
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- broadcast join: dimensions (progress master, synonym maps)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow / pandas-UDF path (the only Python in the plan) -------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512, not the 10k default: media kernels see ~8 KB binary cells, so
        # a 4096-row batch materializes ~33 MB per worker per batch — at 16+
        # concurrent workers that thrashes the shared LLC / memory bus
        # (measured: 111 s → 56 s wall on the 36k-doc media corpus at
        # local[16] from this change alone). 512 rows keeps batches ~4 MB
        # while still amortizing Arrow/IPC overhead for text kernels.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # shuffle / broadcast / spill block codec. The extraction job's
        # scaling limiter is the window/agg stage's memory traffic (shuffled
        # text rows), so compression ratio buys scaling headroom on a shared
        # memory subsystem or network; zstd measured within noise of lz4
        .config("spark.io.compression.codec", "lz4")
        # deterministic timestamps in tests regardless of host TZ
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
