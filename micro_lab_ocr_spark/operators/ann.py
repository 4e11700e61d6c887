"""Approximate-nearest-neighbor search over an embedding column.

Every cosine top-k here runs ONE kernel (:func:`_cosine_topk`): the bounded
query matrix rides in a mapInPandas closure over the corpus, each corpus
Arrow batch takes one BLAS matmul against it, and only each batch's
per-query top-k leaves the kernel; a ``row_number`` window ranks the union.
The variants differ only in which (corpus, query) pairs may be ranked:

* brute-force cosine top-k — the exact baseline: every pair.
* LSH (random hyperplane signs) — a pair is a candidate when its sign
  pattern matches in ANY of ``n_tables`` hash tables.
* IVF-flat (sampled centroids) — a pair is a candidate when the corpus
  vector's nearest centroid is among the query's ``n_probe`` nearest.

The candidate sets are masks on the batch × queries cosine block, so the
plan is one scan, one kernel and one ``query_id`` exchange whatever the
variant. All arithmetic in doubles with explicit rounding so the DuckDB
oracle matches bit-for-bit at the rounded precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _collect_query_matrix(queries: DataFrame, id_col: str, vec_col: str):
    """(sorted ids, float64 matrix) of the bounded query side."""
    import numpy as np

    rows = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    ).collect()
    rows.sort(key=lambda r: r["query_id"])
    ids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    mat = (
        np.array([r["qvec"] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    return ids, mat


def _cosine_topk(corpus: DataFrame, queries: DataFrame, k: int, id_col: str,
                 vec_col: str, corpus_keys=None, query_keys=None) -> DataFrame:
    """Cosine top-k of every query over the corpus, optionally restricted to
    candidate pairs. queries is expected to be small (same bounded-side
    assumption as a broadcast dimension): its matrix rides into a
    mapInPandas kernel over the corpus, which scores one BLAS matmul per
    Arrow batch and emits ONLY each batch's per-query top-k. The Python
    boundary therefore carries O(n_batches · |Q| · k) narrow rows instead of
    O(|corpus| · |Q|) vector pairs, and each corpus vector crosses it once.
    The final window ranks the candidate union — exact, because every true
    global top-k row is in its own batch's top-k under the same
    (cosine DESC, corpus_id ASC) total order.

    Candidates: ``query_keys(qmat)`` runs once on the driver and gives a
    |Q| × T integer key matrix; the kernel maps each batch through
    ``corpus_keys`` to n × T, and a pair is a candidate when ANY column t
    matches. The miss mask is built one column at a time, so it stays one
    n × |Q| boolean, the shape of the cosine block. Non-candidates, self-pairs
    and zero-norm vectors (NaN cosine) are never ranked; an empty query side
    yields an empty result."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    qids, qmat = _collect_query_matrix(queries, id_col, vec_col)
    qkeys = query_keys(qmat) if query_keys is not None and len(qids) else None
    # STORED width on the wire: the kernel's astype(float64) of a float32
    # value is exact, so rounding is identical at half the Arrow bytes
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec"))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
        for pdf in it:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            order = np.argsort(pdf["corpus_id"].to_numpy(), kind="stable")
            cids = pdf["corpus_id"].to_numpy()[order]
            cm = np.stack(pdf["cvec"].to_numpy()[order]).astype(np.float64)
            cnorm = np.sqrt(np.einsum("ij,ij->i", cm, cm))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round((cm @ qmat.T) / (cnorm[:, None] * qnorm[None, :]), 4)
            cos[cids[:, None] == qids[None, :]] = -np.inf  # self-pairs excluded
            if qkeys is not None:
                ckeys = corpus_keys(cm)
                miss = np.ones(cos.shape, dtype=bool)
                for t in range(qkeys.shape[1]):
                    miss &= ckeys[:, t, None] != qkeys[None, :, t]
                cos[miss] = -np.inf
            kk = min(k, len(cids))
            # rows pre-sorted by corpus_id ⇒ stable argsort on -cos realizes
            # the exact (cosine DESC, corpus_id ASC) total order per query
            top = np.argsort(-cos, axis=0, kind="stable")[:kk, :]
            sel = np.take_along_axis(cos, top, axis=0)
            keep = np.isfinite(sel).reshape(-1)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, kk)[keep],
                    "corpus_id": cids[top].reshape(-1)[keep],
                    "cosine": sel.reshape(-1)[keep],
                }
            )

    scored = c.mapInPandas(kernel, "query_id long, corpus_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: every (query, corpus) pair is a candidate of the
    shared kernel (:func:`_cosine_topk`)."""
    return _cosine_topk(corpus, queries, k, id_col, vec_col)


def deterministic_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes (seeded, reproducible across engines)."""
    import random

    rng = random.Random(seed)
    return [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_planes)]


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH cosine top-k: a pair is a candidate when its sign
    pattern matches in ANY of ``n_tables`` hash tables (the classical
    recall-boosting construction). Table t's ``n_planes`` hyperplanes are
    ``deterministic_planes(dim, n_planes, seed=42 + t)``; a vector's sign
    bits ``v @ planes >= 0`` pack into one integer code per table. Query
    codes come once from the collected query matrix, corpus codes from the
    same matmul per batch inside the shared kernel, so candidates cost one
    (dim × n_tables·n_planes) product per batch and no join or shuffle."""
    import numpy as np

    if n_planes > 63:
        raise ValueError(f"n_planes={n_planes}: a table's sign bits pack into an int64 code")
    planes = np.array(
        [p for t in range(n_tables) for p in deterministic_planes(dim, n_planes, seed=42 + t)],
        dtype=np.float64,
    ).T  # dim × (n_tables·n_planes)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def codes(v):
        bits = ((v @ planes) >= 0).reshape(len(v), n_tables, n_planes)
        return bits @ weights  # n × n_tables

    return _cosine_topk(corpus, queries, k, id_col, vec_col, codes, codes)


def _choose_blocks(n: int, max_block_rows: int, slots: int) -> int:
    """Block count for the triangle-grid kernel: the larger of the MEMORY
    bound (no block above max_block_rows) and a PARALLELISM floor sized so
    the B·(B+1)/2 grid cells give every default-parallelism slot ~2 tasks.
    The floor never shreds below ~64 rows/block — python-worker + Arrow
    overhead would dominate the per-cell matmul on tiny corpora."""
    import math

    mem_blocks = max(1, math.ceil(n / max_block_rows))
    par_blocks = min(math.ceil(n / 64), math.ceil(math.sqrt(4 * slots)))
    return max(mem_blocks, par_blocks, 1)


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    max_block_rows: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT: every (id_a < id_b)
    with round(cosine, 4) ≥ threshold (the correctness baseline the LSH path
    is judged against, task brief §dedup).

    A self theta-join would plan as a BroadcastNestedLoopJoin pushing O(n²)
    rows through Catalyst. Instead the classic triangle-grid matmul: ids
    hash into B blocks; each row map-side replicates to the B unordered
    block-pairs its block belongs to (``explode`` over pair keys — diagonal
    once), ONE hash shuffle groups the grid cells, and a numpy kernel scores
    each of the B×(B+1)/2 groups as a single matrix product. Compute stays
    O(n²) — exactness requires it — but it's distributed over block pairs
    with bounded-size matrices and zero per-pair Catalyst rows.

    Scale guards: no broadcast and no packed mega-rows — vectors travel as
    plain rows through exactly one shuffle (replication factor B, i.e. total
    shuffle volume n·B rows ≈ n²/max_block_rows), and neither the driver nor
    any executor ever holds the corpus: a task holds one group of ≤
    2·max_block_rows vectors. B defaults to the larger of (a) the memory
    bound ceil(n / max_block_rows) and (b) a parallelism floor sized so the
    B·(B+1)/2 grid cells give every default-parallelism slot ~2 tasks —
    without (b) a corpus under max_block_rows collapses to ONE cell and one
    task scores the whole n×n matrix while the rest of the cluster idles
    (measured 6.1 s → 1.3 s at n=2000 / 32 cores from the floor alone). An
    explicit ``n_blocks`` below the memory bound raises instead of failing
    later with executor OOM. Vectors keep their STORED
    width on the wire (float stays float — widening to float64 happens in
    the kernel and is exact, same values as a Spark-side cast at half the
    shuffle bytes). At web scale you run the LSH candidates + this kernel on
    candidates only."""
    import math

    import pandas as pd

    idtype = emb.schema[id_col].dataType.simpleString()
    n = emb.count()
    min_blocks = max(1, math.ceil(n / max_block_rows))
    if n_blocks is None:
        slots = emb.sparkSession.sparkContext.defaultParallelism
        n_blocks = _choose_blocks(n, max_block_rows, slots)
    elif n_blocks < min_blocks:
        raise ValueError(
            f"n_blocks={n_blocks} packs ~{math.ceil(n / n_blocks)} rows/block "
            f"(> max_block_rows={max_block_rows}) — raise n_blocks to "
            f"≥ {min_blocks}, or use the LSH candidate path "
            f"(ann.lsh_topk / dedup.minhash_lsh_pairs) for corpora this size"
        )
    B = n_blocks
    v = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))
    # a row in block k belongs to grid cell (min(k, o), max(k, o)) for every
    # block o: each unordered pair receives both its blocks' rows exactly
    # once, the diagonal (k, k) exactly once
    grid = v.select(
        "blk",
        "id",
        "vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("blk"), F.lit(o)).alias("pa"),
                        F.greatest(F.col("blk"), F.lit(o)).alias("pb"),
                    )
                    for o in range(B)
                ]
            )
        ).alias("pk"),
    ).select(F.col("pk.pa").alias("pa"), F.col("pk.pb").alias("pb"), "blk", "id", "vec")

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pa, pb = int(key[0]), int(key[1])
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if len(pdf) == 0:
            return empty
        blk = pdf["blk"].to_numpy()
        ids = pdf["id"].to_numpy()
        M = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        if pa == pb:
            S = np.round(Mn @ Mn.T, 4)
            ii, jj = np.nonzero(S >= threshold)
            keep = ii < jj  # symmetric matrix: each unordered pair once
            ids_a, ids_b = ids, ids
        else:
            a_side = blk == pa
            ids_a, ids_b = ids[a_side], ids[~a_side]
            if len(ids_a) == 0 or len(ids_b) == 0:
                return empty
            S = np.round(Mn[a_side] @ Mn[~a_side].T, 4)
            ii, jj = np.nonzero(S >= threshold)
            keep = np.ones(len(ii), dtype=bool)
        out_a, out_b, out_c = [], [], []
        for i, j, k in zip(ii, jj, keep):
            if not k:
                continue
            a, b = ids_a[i], ids_b[j]
            if a == b:
                continue
            lo, hi = (a, b) if a < b else (b, a)
            out_a.append(lo)
            out_b.append(hi)
            out_c.append(S[i, j])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return grid.groupBy("pa", "pb").applyInPandas(
        score, f"id_a {idtype}, id_b {idtype}, cosine double"
    )


# ---------------------------------------------------------------------------
# IVF-flat (inverted-file) variant — the cell-partitioned scale path
# ---------------------------------------------------------------------------


def sampled_centroids(corpus: DataFrame, stride: int,
                      id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic coarse quantizer: every ``stride``-th corpus vector (by
    id) becomes a centroid. Classic IVF initializes centroids by sampling
    and refines with Lloyd iterations; the refinement is an offline model
    artifact, so the engine takes the centroid set as INPUT — sampling by id
    keeps it reproducible across engines (the DuckDB oracle regenerates the
    identical set with a WHERE clause). Returns (ids, matrix) sorted by id:
    a bounded driver-side artifact (C centroids ≈ KBs), never the corpus."""
    import numpy as np

    rows = (
        corpus.where(F.col(id_col) % stride == 0)
        .select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    rows.sort(key=lambda r: r["cid"])
    ids = [r["cid"] for r in rows]
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    return ids, mat


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int = 25,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat cosine top-k — the cell-partitioned ANN scale path next to
    the sign-LSH variant: each corpus vector belongs to its nearest centroid
    cell (an inverted file), each query probes its ``n_probe`` nearest
    cells, and a pair is a candidate when the corpus cell is among the
    query's probed cells. Nearness is cosine rounded to 4 dp with ties broken
    toward the LOWEST centroid id — the exact order the DuckDB oracle's
    ROW_NUMBER expresses, so cell assignment is engine-portable; a zero-norm
    vector (NaN cosines) falls in the lowest-id cell.

    The centroid set is a bounded model artifact (driver + closure, like any
    broadcast dimension). Query cells come once from the collected query
    matrix; corpus cells cost one (dim × C) matmul per batch inside the
    shared kernel. Exactness: recall < 1 when a true neighbor lives in an
    unprobed cell (pinned by the recall-vs-brute test)."""
    import numpy as np

    cent_ids, cent_mat = sampled_centroids(corpus, centroid_stride, id_col, vec_col)
    if not cent_ids:
        raise ValueError(
            f"centroid_stride={centroid_stride} sampled zero centroids (no "
            f"corpus {id_col} divisible by it) — lower the stride so the "
            "coarse quantizer has at least one cell")
    cent_norm = np.sqrt(np.einsum("ij,ij->i", cent_mat, cent_mat))
    n_cells = min(n_probe, len(cent_ids))

    def cells(v, n):
        """Row-wise positions of the n nearest centroids (ids are sorted)."""
        vnorm = np.sqrt(np.einsum("ij,ij->i", v, v))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.round((v @ cent_mat.T) / (vnorm[:, None] * cent_norm[None, :]), 4)
        # stable argsort on -cos: rounded ties keep centroid-id order, and
        # NaN (a zero-norm side) sorts last
        return np.argsort(-cos, axis=1, kind="stable")[:, :n]

    def corpus_cells(v):
        # one cell per corpus row, repeated so column t meets probe t
        return np.repeat(cells(v, 1), n_cells, axis=1)

    return _cosine_topk(corpus, queries, k, id_col, vec_col,
                        corpus_cells, lambda q: cells(q, n_cells))


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the storage /
    transfer compressor a 100-TB vector corpus needs before the ANN index
    (4× smaller than float32, 8× smaller than the float64 scoring width).

    Per vector: ``scale = max|x| / 127``; ``q_i = round(x_i / scale)`` (half
    away from zero — Spark ROUND and ANSI SQL agree); reconstruction is
    ``q_i * scale``. Emits the quantized vector plus the audit columns a
    curation run publishes:

    * ``absmax``   — the per-vector scale numerator (rounded, 4 dp)
    * ``q_sum``    — integer checksum of the quantized codes (exact — no
      float summation crosses the oracle boundary)
    * ``n_zero``   — codes collapsed to 0 (post-quantization sparsity)
    * ``max_err``  — worst per-element |x − q·scale| (rounded, 4 dp; a max
      over per-element doubles is order-independent, so it oracle-matches
      where a float SUM might drift)

    Pure per-row Catalyst expressions — no shuffle, no UDF; at scale this is
    a map-only pass that pipelines into the writer. All-zero vectors quantize
    to all-zero codes (scale guard), never NaN.

    STAGED projections, not one nested Column tree: higher-order functions
    evaluate interpreted, and Catalyst inlines every reference to a
    subexpression — the nested form re-evaluated ``absmax`` (an O(dim) scan)
    INSIDE each element's lambda of ``q`` and inlined ``q`` itself four
    times, i.e. O(dim²)-per-use interpreted work per row (observed 38.9 s
    for 20k×64-dim vectors). Materializing ``v``/``absmax``/``q`` as stage
    attributes makes each an O(dim) single evaluation; CollapseProject keeps
    the stages because each attribute is non-cheap and multiply-referenced.
    The arithmetic per element is operation-for-operation identical, so the
    outputs are bit-identical to the nested form.
    """
    s1 = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_qz_v"))
    s2 = s1.select(
        "*", F.array_max(F.transform(F.col("_qz_v"), F.abs)).alias("_qz_absmax")
    )
    scale = F.col("_qz_absmax") / F.lit(127.0)
    s3 = s2.select(
        "*",
        F.transform(
            F.col("_qz_v"),
            lambda x: F.when(F.col("_qz_absmax") == 0, F.lit(0).cast("int"))
            .otherwise(F.round(x / scale).cast("int")),
        ).alias("_qz_q"),
    )
    err = F.zip_with(
        F.col("_qz_v"), F.col("_qz_q"), lambda x, c: F.abs(x - c.cast("double") * scale)
    )
    return s3.select(
        F.col(id_col),
        F.col("_qz_q").cast("array<tinyint>").alias("qvec"),
        F.round(F.col("_qz_absmax"), 4).alias("absmax"),
        F.aggregate(
            F.col("_qz_q"), F.lit(0).cast("long"), lambda acc, c: acc + c
        ).alias("q_sum"),
        F.aggregate(
            F.col("_qz_q"), F.lit(0).cast("long"),
            lambda acc, c: acc + F.when(c == 0, 1).otherwise(0),
        ).alias("n_zero"),
        F.round(F.array_max(err), 4).alias("max_err"),
    )
