"""Physical-plan audits (SURVEY §4): the optimizations we rely on at 100 TB
must actually appear in the plan — pinned here so regressions are loud.

* filter pushdown reaches the parquet scan (PushedFilters),
* column pruning reaches the scan (ReadSchema ⊂ table schema),
* dimension joins broadcast (BroadcastHashJoin),
* the extraction plan is one pass: one ref broadcast, two Arrow kernels,
  one doc_id exchange shared by the W2 window and the reassembly,
* each ANN query is one Arrow kernel under one query_id exchange,
* no row-at-a-time Python UDFs anywhere (BatchEvalPython absent),
* cleaner banks stay inside WholeStageCodegen,
* a warm pass of the extraction plan compiles no generated class.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import micro_lab_ocr_spark.queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    df = Q.q1_pricing_summary(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 5 needed columns are read, not all 11
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_q5_broadcasts_small_dims(spark):
    plan = plan_of(Q.q5_region_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region broadcast


def test_j1_broadcast(spark):
    plan = plan_of(Q.j1_enrich_broadcast(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_no_row_python_udfs_anywhere(spark):
    """North-rule: no per-row Python. BatchEvalPython = row UDF; the only
    Python nodes allowed are Arrow-vectorized (MapInPandas / ArrowEval)."""
    for name, fn in Q.queries_dict().items():
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"row-wise Python UDF in {name}"
    entry_plan = plan_of(Q.flagship_entry(spark, SF))
    assert "BatchEvalPython" not in entry_plan


def _plan_paths(node, path=()):
    """Every physical-plan node with its root-to-node path of node names;
    descends into AQE's final plan and into each query stage's exchange."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_paths(node.executedPlan(), path)
        return
    path = (*path, node.nodeName())
    yield node, path
    if cls.endswith("QueryStageExec"):
        yield from _plan_paths(node.plan(), path)
        return
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_paths(kids.apply(i), path)


def _fixture_frames(spark):
    from micro_lab_ocr_spark.sources import fixtures

    docs, media, _ = fixtures.generate_corpus(n_docs=12, seed=5)
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media_df = spark.createDataFrame(
        [(m["media_ref"], bytearray(m["content"])) for m in media],
        "media_ref string, content binary",
    )
    return docs, media, docs_df, media_df


def _output_names(node):
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def test_extraction_plan_is_one_pass(spark):
    """The extraction plan explodes the docs once: the AQE final plan scans
    the docs at most twice (span rows, ref projection), broadcasts only the
    narrow ref projection, once, runs two Arrow kernels (row, media), and
    has ONE hash exchange, on doc_id, which feeds both the W2 date-carry
    Window and the reassembly aggregate. No join back to docs: the only
    join feeds the media kernel."""
    from micro_lab_ocr_spark.pipeline.extract import normalize_spans

    _, _, docs_df, media_df = _fixture_frames(spark)
    out = normalize_spans(docs_df, media_df)
    out.write.format("noop").mode("overwrite").save()  # materialize w/ AQE
    nodes = list(_plan_paths(out._jdf.queryExecution().executedPlan()))
    leaves = [n for n, _ in nodes if n.children().size() == 0]
    docs_scans = [n for n in leaves if "spans" in _output_names(n)]
    assert 1 <= len(docs_scans) <= 2, [n.toString() for n in docs_scans]

    bx = [(n, p) for n, p in nodes if n.nodeName() == "BroadcastExchange"]
    assert len(bx) == 1, [n.toString() for n, _ in bx]
    assert _output_names(bx[0][0]) == {"doc_id", "pos", "offset", "kind", "media_ref"}
    # never above the aggregate: the broadcast never carries assembled output
    below_bx = {n.nodeName() for n, p in nodes if len(p) > len(bx[0][1])
                and p[:len(bx[0][1])] == bx[0][1]}
    assert not any("Aggregate" in name for name in below_bx), below_bx

    assert sum(n.nodeName() == "MapInPandas" for n, _ in nodes) == 2
    shuffles = [(n, p) for n, p in nodes if n.nodeName() == "Exchange"]
    assert len(shuffles) == 1, [n.toString() for n, _ in shuffles]
    exchange, path = shuffles[0]
    assert exchange.toString().startswith("Exchange hashpartitioning(doc_id#")
    assert "Window" in path and "ObjectHashAggregate" in path, path
    assert path.index("ObjectHashAggregate") < path.index("Window"), path
    windows = [n.toString() for n, _ in nodes if n.nodeName() == "Window"]
    assert len(windows) == 1 and "last(own_date" in windows[0], windows
    joins = [p for n, p in nodes if "Join" in n.nodeName()]
    assert len(joins) == 1 and "MapInPandas" in joins[0], joins


@pytest.mark.parametrize(
    "name", ["ann_brute_cosine_topk", "ann_lsh_cosine_topk", "ann_ivf_cosine_topk"]
)
def test_ann_is_one_kernel(spark, name):
    """Brute force, LSH and IVF share one kernel: candidates are a mask on
    the batch × queries cosine block, so the final plan is one MapInPandas
    over the corpus scan, no join, and one shuffle (query_id) under the
    ranking window. A candidate join or a corpus-vector re-join shows up as
    a second kernel, a join or a second exchange."""
    df = Q.queries_dict()[name](spark, SF)
    df.collect()  # materialize: the AQE final plan
    nodes = list(_plan_paths(df._jdf.queryExecution().executedPlan()))
    assert sum(n.nodeName() == "MapInPandas" for n, _ in nodes) == 1
    assert not [n.nodeName() for n, _ in nodes if "Join" in n.nodeName()]
    shuffles = [(n, p) for n, p in nodes if n.nodeName() == "Exchange"]
    assert len(shuffles) == 1, [n.toString() for n, _ in shuffles]
    exchange, path = shuffles[0]
    assert exchange.toString().startswith("Exchange hashpartitioning(query_id#")
    assert "Window" in path, path


def test_t_quality_scan_is_not_spread(spark):
    """t_quality is a scan and a projection: no query repartitions its own
    scan, so the executed plan holds no exchange at all."""
    df = Q.t_quality(spark, SF)
    df.write.format("noop").mode("overwrite").save()
    nodes = list(_plan_paths(df._jdf.queryExecution().executedPlan()))
    assert not [n.toString() for n, _ in nodes if "Exchange" in n.nodeName()]


def test_ngram_jaccard_is_hash_join(spark):
    """The length-band pairing must plan as an equi hash join on the block
    key — never a BroadcastNestedLoopJoin / cartesian (O(n²) at scale)."""
    plan = plan_of(Q.dedup_ngram_q(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_no_window_over_shingles(spark):
    """The bucket-size guard must count on a (bucket)-only projection — a
    Window over rows carrying the shingle arrays would shuffle the dominant
    payload bytes twice."""
    plan = plan_of(Q.dedup_minhash_q(spark, SF))
    assert "Window" not in plan


def test_embedding_pairs_single_shuffle_no_broadcast(spark):
    """The exact cosine triangle-grid must move vectors through exactly ONE
    hash shuffle (the pa/pb groupBy) — no broadcast (the corpus must never
    sit on the driver or whole on an executor), no join, and no second
    exchange repacking block rows (the round-3 shape double-evaluated a
    collect_list aggregate through two shuffle joins + a repartition and
    cost 10× on the bench)."""
    plan = plan_of(Q.dedup_embedding_cosine_q(spark, SF))
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1


def test_cleaners_stay_jvm_side(spark):
    """F-banks must be pure Catalyst expressions — no Python nodes at all.

    Note: the let()-bound chains use higher-order functions, which Catalyst
    evaluates interpreted (outside WholeStageCodegen) — the deliberate trade
    for linear plan size (see functions.cleaners.let). Simple regex queries
    (f17 ladder) still codegen."""
    plan = plan_of(Q.f6_f7_clean_chain(spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Project" in plan
    df17 = Q.f17_date_ladder(spark, SF)
    df17.collect()  # materialize: every plan here is an AQE plan, whose
    # pre-execution string hides WholeStageCodegen markers
    plan17 = plan_of(df17)
    assert "*(1)" in plan17  # the WholeStageCodegen stage marker


def test_shuffle_refs_media_join_content_stationary(spark, tmp_path):
    """media_join="shuffle_refs" over a bucketed media table: identical
    results to broadcast mode, NO broadcast of the span-ref projections, and
    the media side of the decode joins plans NO exchange (content bytes stay
    in the scan stage — only narrow ref rows cross the wire)."""
    from micro_lab_ocr_spark.oracle import extract as ox
    from micro_lab_ocr_spark.pipeline.extract import normalize_spans
    from micro_lab_ocr_spark.sources import catalog, fixtures

    docs, media, _ = fixtures.generate_corpus(n_docs=25, seed=11)
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media_df = spark.createDataFrame(
        [(m["media_ref"], bytearray(m["content"])) for m in media],
        "media_ref string, content binary",
    )
    bucketed = catalog.write_media_bucketed(
        spark, media_df, "media_bkt_test", str(tmp_path / "media_bkt"), n_buckets=4
    )
    try:
        # turn off auto-broadcast so small test sizes don't re-introduce a
        # BroadcastExchange that would vanish at scale anyway
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = normalize_spans(docs_df, bucketed, media_join="shuffle_refs")
            plan = plan_of(out)
            assert "BroadcastExchange" not in plan
            # the bucketed media scans feed their joins without an exchange:
            # every Exchange in the plan partitions on doc_id/page keys or
            # the narrow ref projection — never a plan where the scan of the
            # bucketed table is a child of an Exchange. Bucketed scans print
            # "SelectedBucketsCount"; assert none sits under an Exchange by
            # checking the textual plan has bucketed scans at all and that
            # the number of exchanges over 'content' is zero.
            assert "SelectedBucketsCount" in plan  # bucketed scan used
            for frag in plan.split("Exchange hashpartitioning")[1:]:
                head = frag[:300]
                assert "content" not in head.split("\n")[0], "content column shuffled"
            got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in out.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        media_map = {m["media_ref"]: m["content"] for m in media}
        for d in docs:
            assert got[d["doc_id"]] == ox.normalize_document(d["doc_id"], d["spans"], media_map)
    finally:
        spark.sql("DROP TABLE IF EXISTS media_bkt_test")


def test_image_kernel_evaluates_once(spark):
    """The media kernel must decode each matched media row exactly ONCE at
    runtime: a second consumer of the join would silently re-run the
    decode stage. Counted with an accumulator, not plan text, because AQE
    prints reused stages with their full subtree. The plan broadcasts the
    ref projection once and has nothing to reuse."""
    from micro_lab_ocr_spark.pipeline import extract as px

    acc = spark.sparkContext.accumulator(0)
    orig = px._media_spans

    def counting(it):
        def gen():
            for pdf in it:
                acc.add(len(pdf))
                yield pdf
        return orig(gen())

    docs, media, docs_df, media_df = _fixture_frames(spark)
    media_map = {m["media_ref"]: m["content"] for m in media}

    def decodable(s):
        blob = media_map.get(s["media_ref"])
        if blob is None:
            return False
        if s["kind"] == "image":
            return blob.startswith((b"MLIMG", b"\x89PNG", b"\xff\xd8\xff"))
        return s["kind"] == "pdf" and (
            blob.startswith(b"MLPDF") or (blob.startswith(b"%PDF") and b"/Encrypt" not in blob)
        )

    expected = sum(1 for d in docs for s in d["spans"] if decodable(s))
    assert any(s["kind"] == "image" and decodable(s) for d in docs for s in d["spans"])
    px._media_spans = counting
    try:
        out = px.normalize_spans(docs_df, media_df)
        out.collect()
    finally:
        px._media_spans = orig
    assert acc.value == expected, (
        f"media kernel processed {acc.value} rows for {expected} media rows — "
        "a consumer re-evaluates the decode stage"
    )
    nodes = list(_plan_paths(out._jdf.queryExecution().executedPlan()))
    assert sum(n.nodeName() == "BroadcastExchange" for n, _ in nodes) == 1


def test_warm_pass_compiles_nothing(spark):
    """A second pass of the extraction plan must find every generated class
    in Spark's codegen cache: one pass needs more classes than the default
    cache holds (100), which made every warm pass recompile hundreds of
    classes with Janino. It also fails when two builds of the same plan
    generate different code (several first(ignorenulls) window functions in
    one Window operator did). Counted with CodegenMetrics around the warm
    pass."""
    from micro_lab_ocr_spark.pipeline.extract import normalize_spans
    from micro_lab_ocr_spark.sources import fixtures

    docs, media, _ = fixtures.generate_corpus(n_docs=12, seed=5)

    def one_pass():
        docs_df = spark.createDataFrame(
            [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                            for s in d["spans"]]) for d in docs],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        media_df = spark.createDataFrame(
            [(m["media_ref"], bytearray(m["content"])) for m in media],
            "media_ref string, content binary",
        )
        normalize_spans(docs_df, media_df).write.format("noop").mode("overwrite").save()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0, "warm pass recompiled generated classes"
