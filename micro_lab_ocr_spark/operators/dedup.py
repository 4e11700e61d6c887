"""Deduplication operators for training-data pipelines (task brief §extras).

Hash primitives are portable md5 so the DuckDB oracle reproduces them
exactly; the fingerprint and the SimHash/MinHash signatures run in numpy
mapInPandas kernels (kernels.texthash), tested against the oracle SQL.

Scale notes (100 TB):
* exact dedup — one hash-shuffle on the 32-hex fingerprint; map-side partial
  aggregation keeps the shuffle tiny.
* MinHash/LSH — per-doc signature is a narrow map-side kernel; bucket sizes
  are counted on a (bucket)-only projection and oversized keys anti-joined
  away BEFORE any shingle array enters a shuffle (stop-shingle storms);
  the only wide shuffle is the band-bucket self-join, AQE-skew-splittable.
* SimHash — signature is map-side, no shuffle.
* n-gram Jaccard — equi-join on a log-scale length-bucket blocking key (hash
  join, not a nested-loop theta join), exact length band as a post-filter.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from micro_lab_ocr_spark.functions import text as T
from micro_lab_ocr_spark.kernels import texthash as TH


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", fingerprint_col: str = "fingerprint"
) -> DataFrame:
    """Exact duplicate groups over per-doc normalized-text fingerprints
    (``functions.text.doc_fingerprint`` or its kernel
    ``kernels.texthash.make_fingerprint_kernel``).

    Returns (fingerprint, n_docs, keeper_id) for groups with ≥2 members —
    the keeper is the smallest id (deterministic).
    """
    return (
        docs.select(F.col(id_col).alias("id"), F.col(fingerprint_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keeper_id"))
        .where(F.col("n_docs") >= 2)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
    stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH, verified with
    exact shingle-set Jaccard.

    shingle → minhash (numpy kernel) → band → bucket self-join →
    exact-jaccard filter. ``max_bucket`` drops degenerate buckets
    (stop-shingle storms) — the documented trade-off every web-scale dedup
    makes; dropped buckets are counted, not silent: pass ``stats={}`` to get
    ``stats['oversize_buckets']`` (number of dropped bucket keys; requires
    one extra action on the tiny bucket-count aggregate).

    Shape matters at 100 TB (unlike ann.lsh_topk, neither side is bounded,
    so candidates are a bucket self-join, not a mask): the signature kernel
    emits only (id, band-bucket keys) — the shingle arrays, the dominant
    bytes, never enter a shuffle. Bucket sizes are counted over a
    (bucket)-only projection, oversized keys (a tiny set) broadcast
    anti-join the exploded rows, the self-join produces BARE id pairs which
    dedupe (and eagerly materialize — releasing the exploded frame) before
    anything wide re-attaches, and exact-Jaccard verification re-derives
    shingle overlaps for candidate pairs only: the bare pairs broadcast onto
    the doc scan twice (texts are never broadcast), and the two
    candidate-sized one-text frames equi-join on the pair key.
    """
    idtype = docs.schema[id_col].dataType.simpleString()
    # NB no pre-kernel repartition: the signature kernel is a map-side pass
    # (≈80 µs/doc) that rides the scan partitions — at 100 TB the scan has
    # thousands of splits and shuffling the raw text first would be pure
    # waste (round 1 repartitioned here because the interpreted-HOF
    # signatures were CPU-bound; the numpy kernel removed that).
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ex = (
        base.mapInPandas(
            TH.make_minhash_kernel(shingle_k, num_hashes, bands),
            f"id {idtype}, buckets array<string>",
        )
        .select("id", F.explode("buckets").alias("bucket"))
        .persist()
    )
    sizes = ex.select("bucket").groupBy("bucket").agg(F.count("*").alias("n"))
    oversized = sizes.where(F.col("n") > max_bucket).select("bucket")
    if stats is not None:
        stats["oversize_buckets"] = oversized.count()
    ok = ex.join(F.broadcast(oversized), "bucket", "left_anti")
    cand = (
        ok.alias("a")
        .join(
            ok.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # bare id pairs — persisted (lazily) because two verify joins consume
        # `cand`: the first broadcast evaluation populates the cache, the
        # second reads it, so the band self-join runs once. Lineage is kept
        # (an executor loss recomputes from the persisted `ex`), unlike an
        # eager localCheckpoint, whose blocking materialization job + local
        # disk write cost +70% on this query and is non-resilient on a real
        # cluster. Both caches are tiny ((id, bucket) and bare id pairs) and
        # are released by Spark's ContextCleaner when the plan is GC'd.
        .persist()
    )
    # verify: broadcast the BARE candidate pairs (never the texts) onto the
    # doc scan twice — each side picks up one text scan-side, then the two
    # candidate-sized frames equi-join on the pair key. Document texts are
    # never broadcast (a pair set's texts can exceed driver memory at 100 TB)
    # and the corpus never shuffles — only candidate rows do.
    slim = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    a_txt = (
        slim.join(F.broadcast(cand), F.col("id") == F.col("id_a"))
        .select("id_a", "id_b", F.col("text").alias("text_a"))
    )
    b_txt = (
        slim.join(F.broadcast(cand), F.col("id") == F.col("id_b"))
        .select("id_a", "id_b", F.col("text").alias("text_b"))
    )
    withtexts = a_txt.join(b_txt, ["id_a", "id_b"])
    overlaps = withtexts.select("id_a", "id_b", "text_a", "text_b").mapInPandas(
        TH.make_pair_overlap_kernel(shingle_k),
        f"id_a {idtype}, id_b {idtype}, inter long, un long",
    )
    jac = F.when(F.col("un") == 0, F.lit(0.0)).otherwise(F.col("inter") / F.col("un"))
    return (
        overlaps.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 5,
    threshold: float = 0.7,
    length_band: float = 0.2,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs with length banding.

    The exact baseline against which LSH recall is judged. The length-band
    theta predicate (|len_a − len_b| ≤ band·len_a) would plan as a
    BroadcastNestedLoopJoin (O(n²) pair evaluation); instead each doc gets a
    log-scale length block ``floor(ln len / ln(1+band))`` and the a-side is
    replicated to the block offsets that can contain a qualifying partner —
    proof: len_b ∈ [(1−band)·len_a, (1+band)·len_a] ⇒ blk_b ∈
    [blk_a + floor(ln(1−band)/ln(1+band)), blk_a + 1] (floor(x+d) ≥
    floor(x)+floor(d) for the lower bound; floor(x+1) = floor(x)+1 for the
    upper). The offset range is DERIVED from ``length_band`` — for band=0.2
    that's −2…+1 (4 replicas). The join is then a plain equi
    hash join on the block key with the exact predicate as a post-filter —
    the result set is IDENTICAL to the brute form (blocking is a superset),
    so the DuckDB oracle keeps the simple theta formulation.
    """
    if not 0.0 < length_band < 1.0:
        raise ValueError(f"length_band must be in (0, 1), got {length_band}")
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    log_base = math.log(1.0 + length_band)
    base = (
        docs.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(T.char_ngrams(F.col(text_col), ngram_n)).alias("grams"),
            F.length(T.normalize_text(F.col(text_col))).alias("len"),
        )
        .where(F.size("grams") > 0)
        .withColumn(
            "blk", F.floor(F.log(F.col("len").cast("double")) / F.lit(log_base)).cast("int")
        )
    )
    # lower offset = floor(ln(1-band)/ln(1+band)) — hardcoding −2 would
    # silently lose qualifying pairs for any band > ~0.618
    off_min = math.floor(math.log(1.0 - length_band) / log_base)
    a = base.withColumn(
        "blk_probe", F.explode(F.array(*[F.col("blk") + o for o in range(off_min, 2)]))
    ).alias("a")
    b = base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk_probe") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= F.col("a.len") * length_band),
        )
        # necessary condition J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) prunes pairs
        # BEFORE the expensive array_intersect (cheap int compare per pair)
        .where(
            F.least(F.size("a.grams"), F.size("b.grams"))
            >= F.lit(threshold) * F.greatest(F.size("a.grams"), F.size("b.grams"))
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(T.jaccard(F.col("a.grams"), F.col("b.grams")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc 64-bit SimHash (as bigint) — near-dup candidates are pairs
    within small Hamming distance.

    Runs the numpy kernel (kernels.texthash.simhash_kernel), bit-identical to
    the DuckDB oracle SQL (``queries._simhash_hex_sql``). Map-side on the
    scan partitions — no shuffle at all."""
    idtype = docs.schema[id_col].dataType.simpleString()
    return docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")).mapInPandas(
        TH.simhash_kernel, f"id {idtype}, simhash long"
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by hash-min
    label propagation: every node converges to the smallest id reachable
    from it. Returns ``(id, comp)`` where ``comp`` is that minimum — the
    deterministic canonical ("keeper") id of the cluster. This is the step
    a training-data pipeline runs AFTER any pairs operator above: pairs say
    "these two match", components say "keep one doc per group" even when
    matches chain (A~B, B~C, A!~C).

    Scale notes (100 TB): the input is the PAIR graph — only docs that
    matched something, a small fraction of the corpus — so every iteration
    shuffles edge-sized frames, never the corpus. A round is one
    edges⋈labels hash join plus a groupBy-min over bare (id, comp) longs;
    min-labels flow one hop per round, so convergence takes O(component
    diameter) rounds, and near-dup components are star/clique shaped
    (copies of one source) — 2–3 rounds typical. ``max_iter`` is a loud
    guard, not a silent truncation: a component with a path longer than
    that raises instead of returning a wrong partition (reference has no
    graph step; this is the brief's dedup-at-scale extra). The per-round
    convergence check is a scalar ``count`` on the changed rows — the same
    bounded-metadata driver action discipline as checkpoint lineage.

    Lineage: every round MUST truncate the logical plan, not just cache the
    physical result — caching short-circuits re-execution but Catalyst still
    re-analyzes the full lineage, which triples per round (labels feeds the
    neighbor join, the least() merge, and the convergence check) and turns
    round ~8 into a driver-side planning hang. The GraphFrames CC operator
    checkpoints each round for exactly this reason. We use the reliable
    ``checkpoint()`` when the session has a checkpoint dir (production: set
    it next to the lineage checkpoint table so executor loss replays from
    the last round, not from round 0), else ``localCheckpoint`` — fine for
    a driver-looped batch job where executor loss fails the job anyway.
    """
    spark = pairs.sparkSession

    def _truncate(df: DataFrame) -> DataFrame:
        if spark.sparkContext.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    sym = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    edges = _truncate(
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    # every node is its own starting label; all nodes appear as `u` because
    # the edge list is symmetric
    labels = _truncate(
        edges.select(F.col("u").alias("id")).distinct().select(
            "id", F.col("id").alias("comp")
        )
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = _truncate(
            labels.join(nbr_min, labels["id"] == nbr_min["u"])
            .select("id", F.least("comp", "nbr_comp").alias("comp"))
        )
        changed = (
            new_labels.withColumnRenamed("comp", "new_comp")
            .join(labels, "id")
            .where(F.col("new_comp") != F.col("comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations — "
        f"a component has a path longer than that; raise max_iter or "
        f"tighten the pair threshold upstream"
    )
