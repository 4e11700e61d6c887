"""Operator-level tests: dedup recall on planted near-dups, text-hash kernel
parity with the DuckDB oracle SQL and with Catalyst, ANN recall of the LSH
and IVF paths vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from micro_lab_ocr_spark import queries as Q
from micro_lab_ocr_spark.functions import text as T
from micro_lab_ocr_spark.kernels import texthash as TH
from micro_lab_ocr_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def doc_df(spark):
    import random

    rng = random.Random(5)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(200):
        text = " ".join(rng.choice(words) for _ in range(80))
        rows.append((i, text))
        if i % 10 == 0:
            # near-dup: drop the last 10%
            rows.append((i + 10000, " ".join(text.split()[:72])))
        if i % 25 == 0:
            rows.append((i + 20000, text))  # exact dup
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_dedup_exact_finds_planted(doc_df):
    fps = doc_df.mapInPandas(
        TH.make_fingerprint_kernel("doc_id"), "doc_id long, fingerprint string"
    )
    groups = dedup.dedup_exact(fps).collect()
    keepers = {r["keeper_id"] for r in groups}
    assert keepers == {i for i in range(0, 200, 25)}
    assert all(r["n_docs"] == 2 for r in groups)


def test_minhash_lsh_recall(doc_df):
    pairs = dedup.minhash_lsh_pairs(doc_df, jaccard_threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # all planted near-dup pairs (90% prefix) must be found
    expected_near = {(i, i + 10000) for i in range(0, 200, 10)}
    expected_exact = {(i, i + 20000) for i in range(0, 200, 25)}
    missing = (expected_near | expected_exact) - found
    assert not missing, f"missed planted pairs: {sorted(missing)[:5]}"


PARITY_TEXTS = [
    "",
    None,
    "alpha beta gamma alpha beta gamma delta",
    "The QUICK brown-fox; jumps_over 42 lazy dogs!!",
    "한국어 문서 with mixed 스크립트 and punctuation, 보존력 시험 결과",
    "x",
    "one two",
    "repeat repeat repeat repeat repeat",
    # lowercase changes length or maps into ASCII: U+0130 İ, U+212A Kelvin, ß
    "İSTANBUL İzmir DİYARBAKIR",
    "\u212a \u212aelvin 5\u212a",
    "Straße STRASSE ß",
    "한국어Mixed문서 ABC-123 스크립트x",
    "İ\u212aß한",
    # İ / Kelvin inside stopwords and words: t_quality counts these runs
    "İt is İSTANBUL and the city",
    "aİb the cat",
    "\u212aeep it on the \u212aey",
]


def _duckdb_oracle(sql: str) -> dict:
    """Run one oracle query in an in-memory DuckDB over PARITY_TEXTS as the
    ``documents`` table; the first column keys the second. The planted
    copies the dedup queries add (ids ≥ 1,000,000) are never looked up."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(PARITY_TEXTS)))
    return dict(con.execute(sql).fetchall())


def test_simhash_kernel_matches_duckdb_oracle():
    """simhash64_py equals the oracle's DEDUP_SIMHASH_SQL signature."""
    sims = _duckdb_oracle(Q.DEDUP_SIMHASH_SQL)
    for i, t in enumerate(PARITY_TEXTS):
        sim = TH.simhash64_py(t) & (2**64 - 1)
        assert f"{sim:016X}" == sims[i], f"simhash mismatch on {t!r}"


def test_minhash_kernel_matches_duckdb_oracle():
    """Shingles and the 8-hash / 4-band LSH keys equal the ``sh`` and
    ``buckets`` CTEs of the oracle's _MINHASH_CTES."""
    shingles = _duckdb_oracle(f"WITH {Q._MINHASH_CTES} SELECT id, shingles FROM sh")
    bands = _duckdb_oracle(
        f"WITH {Q._MINHASH_CTES} SELECT id, list(key ORDER BY band) FROM buckets GROUP BY id"
    )
    for i, t in enumerate(PARITY_TEXTS):
        sh = TH.word_shingles_py(t, 3)
        assert sorted(sh) == sorted(shingles.get(i, [])), f"shingles mismatch on {t!r}"
        if sh:
            assert TH.minhash_buckets_py(sh, 8, 4) == bands[i], f"bands mismatch on {t!r}"


def test_fingerprint_kernel_matches_duckdb_oracle():
    """The fingerprint kernel equals the oracle's T_FINGERPRINT_SQL."""
    import pandas as pd

    fps = _duckdb_oracle(Q.T_FINGERPRINT_SQL)
    pdf = pd.DataFrame({"doc_id": range(len(PARITY_TEXTS)), "text": PARITY_TEXTS})
    kernel_fps = next(TH.make_fingerprint_kernel("doc_id")(iter([pdf])))["fingerprint"]
    for i, t in enumerate(PARITY_TEXTS):
        assert kernel_fps[i] == fps[i], f"fingerprint mismatch on {t!r}"


def test_quality_staged_matches_duckdb_oracle(spark):
    """text.quality_staged, the t_quality form, equals the oracle's
    T_QUALITY_SQL on the parity texts, compared as the oracle gate does."""
    want = _duckdb_oracle(
        f"SELECT doc_id, [stopword_ratio, quality] FROM ({Q.T_QUALITY_SQL})"
    )
    df = spark.createDataFrame(list(enumerate(PARITY_TEXTS)), "doc_id long, text string")
    got = {
        r["doc_id"]: [r["stopword_ratio"], r["quality"]]
        for r in T.quality_staged(df, "text").select("doc_id", "stopword_ratio", "quality").collect()
    }
    def norm(vals):
        return [None if v is None else round(v, 9) for v in vals]

    for i, t in enumerate(PARITY_TEXTS):
        assert norm(got[i]) == norm(want[i]), f"t_quality mismatch on {t!r}: {got[i]} != {want[i]}"


def test_tokenizer_matches_catalyst(spark):
    """norm_tokens, the tokenizer of every text-hash kernel, equals the
    Catalyst ``tokens`` that t_token_stats runs."""
    df = spark.createDataFrame(list(enumerate(PARITY_TEXTS)), "doc_id long, text string")
    catalyst = dict(df.select("doc_id", T.tokens(F.col("text"))).collect())
    for i, t in enumerate(PARITY_TEXTS):
        assert TH.norm_tokens(t) == (catalyst[i] or []), f"tokens mismatch on {t!r}"


def test_fingerprint_kernel_matches_catalyst(spark):
    """dedup_exact_q's Python fingerprint kernel (normalize + md5) must equal
    the Catalyst doc_fingerprint that t_fingerprint runs, also on the
    Unicode parity texts — otherwise dedup groups drift from the SQL
    oracle."""
    df = spark.createDataFrame(list(enumerate(PARITY_TEXTS)), "doc_id long, text string")
    catalyst = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", T.doc_fingerprint(F.col("text")).alias("fp")).collect()
    }
    kernel = {
        r["doc_id"]: r["fingerprint"]
        for r in df.mapInPandas(
            TH.make_fingerprint_kernel("doc_id"), "doc_id long, fingerprint string"
        ).collect()
    }
    for i, t in enumerate(PARITY_TEXTS):
        assert kernel[i] == catalyst[i], f"fingerprint mismatch on {t!r}"


def test_minhash_oversize_bucket_guard(spark):
    """Degenerate buckets are dropped AND counted — never silent. 60 docs
    with identical text all share every band bucket; max_bucket=10 must drop
    them (no pairs) and report the 4 oversized band keys."""
    same = [(i, "common stop shingle storm text repeated everywhere") for i in range(60)]
    df = spark.createDataFrame(same, "doc_id long, text string")
    stats: dict = {}
    pairs = dedup.minhash_lsh_pairs(df, max_bucket=10, stats=stats)
    assert pairs.count() == 0
    assert stats["oversize_buckets"] == 4  # all 4 bands degenerate


def test_ann_lsh_recall_vs_brute(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where(F.col("vec_id") % 60 == 0)
    brute = ann.brute_force_topk(emb, queries, k=5)
    lsh = ann.lsh_topk(emb, queries, dim=16, k=5, n_planes=4, n_tables=8)
    b = {(r["query_id"], r["corpus_id"]) for r in brute.collect()}
    l = {(r["query_id"], r["corpus_id"]) for r in lsh.collect()}
    # LSH returns a subset quality-wise; require ≥40% recall of true top-5
    recall = len(b & l) / len(b)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # brute force: every query has exactly 5 ranked neighbors
    per_q = {}
    for r in brute.collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_brute_force_topk_empty_queries(spark):
    """An empty query side ((0, 0) query matrix) yields an empty ranked
    result, not a kernel crash in every task, for brute force and both
    candidate masks."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<float>"
    )
    none = emb.where(F.lit(False))
    for out in (
        ann.brute_force_topk(emb, none, k=5),
        ann.lsh_topk(emb, none, dim=2, k=5, n_planes=2, n_tables=3),
        ann.ivf_topk(emb, none, k=5, centroid_stride=5, n_probe=2),
    ):
        assert out.columns == ["query_id", "corpus_id", "cosine", "rank"]
        assert out.collect() == []


def test_ann_kernels_drop_zero_norm_vectors(spark):
    """One NaN policy across the ANN kernels: a zero-norm vector has no
    cosine, so brute force, sign-LSH and IVF all return no row for it as a
    query and never rank it as a neighbour (no null or NaN cosine)."""
    import math
    import random

    rng = random.Random(23)
    rows = [(0, [0.0] * 8)] + [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(1, 41)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where(F.col("vec_id").isin(0, 1, 2))
    results = {
        "brute": ann.brute_force_topk(emb, queries, k=3),
        "lsh": ann.lsh_topk(emb, queries, dim=8, k=3, n_planes=2, n_tables=4),
        "ivf": ann.ivf_topk(emb, queries, k=3, centroid_stride=20, n_probe=2),
    }
    for name, df in results.items():
        got = df.collect()
        assert got, f"{name}: no rows for the non-zero queries"
        assert all(r["query_id"] != 0 and r["corpus_id"] != 0 for r in got), name
        assert all(r["cosine"] is not None and not math.isnan(r["cosine"]) for r in got), name
    assert sorted(r["query_id"] for r in results["brute"].collect()) == [1, 1, 1, 2, 2, 2]


def test_embedding_cosine_pairs_block_bound(spark):
    """Block sizing is enforced: B derives from n/max_block_rows so packed
    rows stay bounded, an explicit undersized n_blocks raises loudly (not an
    Arrow limit error mid-job), and the multi-block result is still exact
    (identical to the single-block matmul)."""
    import random

    import pytest as _pytest

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    with _pytest.raises(ValueError, match="n_blocks=2 .* LSH"):
        ann.embedding_cosine_pairs(emb, n_blocks=2, max_block_rows=10)
    multi = ann.embedding_cosine_pairs(emb, threshold=0.2, max_block_rows=10)
    single = ann.embedding_cosine_pairs(emb, threshold=0.2, n_blocks=1)
    m = {(r["id_a"], r["id_b"], round(r["cosine"], 4)) for r in multi.collect()}
    s = {(r["id_a"], r["id_b"], round(r["cosine"], 4)) for r in single.collect()}
    assert m == s and len(m) > 0


def test_embedding_cosine_block_parallelism_floor():
    """Default block sizing must satisfy BOTH bounds: never a block above
    max_block_rows (memory), and never a grid so coarse that one task scores
    the whole corpus while the cluster idles (a 2000-row corpus under the
    4096 memory cap collapsed to ONE cell before the floor: 6.1 s -> 1.3 s
    at 32 cores). Floor backs off below ~64 rows/block."""
    from micro_lab_ocr_spark.operators.ann import _choose_blocks

    # memory bound dominates at scale: 1M rows / 4096 cap -> >= 245 blocks
    assert _choose_blocks(1_000_000, 4096, 32) >= 245
    # parallelism floor dominates under the cap: 2000 rows, 32 slots ->
    # B = ceil(sqrt(4*32)) = 12 -> 78 cells ~ 2.4 tasks/slot
    assert _choose_blocks(2000, 4096, 32) == 12
    b = _choose_blocks(2000, 4096, 8)
    assert b * (b + 1) // 2 >= 2 * 8
    # tiny corpora: don't shred below ~64 rows/block
    assert _choose_blocks(100, 4096, 32) == 2
    assert _choose_blocks(40, 4096, 32) == 1

def test_ann_ivf_recall_vs_brute(spark):
    import random

    from pyspark.sql import functions as F

    from micro_lab_ocr_spark.operators import ann

    rng = random.Random(13)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where(F.col("vec_id") % 60 == 0)
    brute = ann.brute_force_topk(emb, queries, k=5)
    ivf = ann.ivf_topk(emb, queries, k=5, centroid_stride=20, n_probe=4)
    b = {(r["query_id"], r["corpus_id"]) for r in brute.collect()}
    v = {(r["query_id"], r["corpus_id"]) for r in ivf.collect()}
    recall = len(b & v) / len(b)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # returned pairs are a SUBSET of exact scoring (candidates are scored
    # exactly; only unprobed cells lose pairs) and every hit keeps the exact
    # cosine — compare scores on the intersection
    bs = {(r["query_id"], r["corpus_id"]): r["cosine"] for r in brute.collect()}
    vs = {(r["query_id"], r["corpus_id"]): r["cosine"] for r in ivf.collect()}
    assert all(bs[p] == vs[p] for p in (b & v))


def test_ann_ivf_probe_widens_recall(spark):
    """More probed cells can only add candidates: results at n_probe=1 are a
    subset of n_probe=4's for the same corpus/queries."""
    import random

    from pyspark.sql import functions as F

    from micro_lab_ocr_spark.operators import ann

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(12)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where(F.col("vec_id") % 40 == 0)
    # k above the corpus size: no top-k truncation, so the result sets ARE
    # the candidate sets and the nesting property is exact
    narrow = ann.ivf_topk(emb, queries, k=10_000, centroid_stride=20, n_probe=1)
    wide = ann.ivf_topk(emb, queries, k=10_000, centroid_stride=20, n_probe=4)
    n = {(r["query_id"], r["corpus_id"]) for r in narrow.collect()}
    w = {(r["query_id"], r["corpus_id"]) for r in wide.collect()}
    assert n <= w and len(w) > len(n)


def test_connected_components_chains_and_islands(spark):
    # two chained clusters (A~B, B~C must land with A even though A!~C),
    # one pair cluster; labels = min id reachable
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_connected_components_max_iter_is_loud(spark):
    # a 10-node path needs ~9 propagation rounds: max_iter=3 must raise,
    # never return a wrong (partially propagated) partition
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=3)
    # and the same graph converges with an adequate budget
    got = {r["id"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 10


# ---------------------------------------------------------------------------
# deterministic hash sampling (operators/sampling.py)
# ---------------------------------------------------------------------------


def test_hash_sample_deterministic_and_near_rate(spark):
    from micro_lab_ocr_spark.operators import sampling

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    def sample(threshold_hex):
        flag = sampling.hash_sample_flag(F.col("doc_id"), threshold_hex)
        return {r["doc_id"] for r in df.where(flag).collect()}

    a = sample("1a")
    b = sample("1a")
    # pure function of the data: identical selection across runs (rand()/
    # TABLESAMPLE would not be — that is the operator's whole point)
    assert a == b
    # md5 prefix is uniform: rate within ±25% relative of 26/256
    expected = 4000 * 26 / 256
    assert 0.75 * expected <= len(a) <= 1.25 * expected
    # widening the threshold strictly grows the sample (prefix monotonicity)
    wider = sample("40")
    assert a < wider


def test_stratified_summary_counts_consistent(spark):
    from micro_lab_ocr_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", 100 + i) for i in range(500)],
        "doc_id long, lang string, n_chars long",
    )
    out = {r["stratum"]: r for r in
           sampling.stratified_sample_summary(df, "lang", "doc_id", "20", "n_chars").collect()}
    assert set(out) == {"en", "de"}
    assert out["en"]["n_total"] == out["de"]["n_total"] == 250
    flat = df.where(sampling.hash_sample_flag(F.col("doc_id"), "20"))
    n_by_lang = {r["lang"]: r["n"] for r in flat.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang in ("en", "de"):
        assert out[lang]["n_sampled"] == n_by_lang.get(lang, 0)


# ---------------------------------------------------------------------------
# int8 embedding quantization (operators/ann.quantize_int8)
# ---------------------------------------------------------------------------


def test_quantize_int8_roundtrip_bounds(spark):
    rows = [
        (0, [0.5, -1.0, 0.25, 0.0]),
        (1, [0.001, 0.002, -0.003, 0.004]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero: scale guard, never NaN
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in ann.quantize_int8(df).collect()}
    # codes live in [-127, 127]; the absmax element maps to exactly ±127
    assert out[0]["qvec"] == [64, -127, 32, 0]
    assert max(abs(c) for c in out[1]["qvec"]) == 127
    # all-zero vector → all-zero codes, zero error, zero scale
    assert out[2]["qvec"] == [0, 0, 0, 0]
    assert out[2]["absmax"] == 0.0 and out[2]["max_err"] == 0.0
    # reconstruction error ≤ scale/2 + rounding slack, for every vector
    for r in out.values():
        scale = r["absmax"] / 127.0
        assert r["max_err"] <= scale / 2 + 1e-4
    # integer audit columns are exact
    assert out[0]["q_sum"] == 64 - 127 + 32 + 0
    assert out[0]["n_zero"] == 1
