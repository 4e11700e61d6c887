"""Golden end-to-end test: engine normalized spans == oracle, per document
(the BASELINE.json invariant: (kind, text, media_ref, order) sequence
equality), plus grid-operator parity on targeted fixtures."""

from __future__ import annotations

import pytest

from micro_lab_ocr_spark.oracle import cleaners as oc
from micro_lab_ocr_spark.oracle import extract as ox
from micro_lab_ocr_spark.pipeline import extract as px
from micro_lab_ocr_spark.sources import fixtures

DOCS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, content binary"


@pytest.fixture(scope="module")
def corpus():
    return fixtures.generate_corpus(n_docs=40, seed=42)


@pytest.fixture(scope="module")
def engine_result(spark, corpus):
    docs, media, _ = corpus
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame(
        [(m["media_ref"], bytearray(m["content"])) for m in media], MEDIA_SCHEMA
    )
    out = px.normalize_spans(docs_df, media_df).collect()
    return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in out}


def test_span_sequence_equality(engine_result, corpus):
    docs, media, _ = corpus
    media_map = {m["media_ref"]: m["content"] for m in media}
    mismatches = []
    for d in docs:
        expected = ox.normalize_document(d["doc_id"], d["spans"], media_map)
        got = engine_result.get(d["doc_id"], [])
        if len(got) != len(expected):
            mismatches.append((d["doc_id"], "length", len(got), len(expected)))
            continue
        for g, e in zip(got, expected):
            for k in ("kind", "text", "media_ref", "offset"):
                if g[k] != e[k]:
                    mismatches.append((d["doc_id"], e["offset"], k, g[k], e[k]))
                    break
    assert not mismatches, f"{len(mismatches)} span mismatches; first 3: {mismatches[:3]}"


def test_all_docs_present(engine_result, corpus):
    docs, _, _ = corpus
    assert set(engine_result) == {d["doc_id"] for d in docs}


def test_edge_docs_not_lost(spark):
    """Empty docs, unknown kinds, and dangling media_refs pass through —
    never silently dropped (found by runtime probing; spec'd in oracle)."""
    docs = [
        {"doc_id": "empty", "spans": []},
        {"doc_id": "unknown", "spans": [
            {"kind": "video", "text": "", "media_ref": "m://x/0", "offset": 0},
            {"kind": "text", "text": "hello", "media_ref": "", "offset": 1}]},
        {"doc_id": "dangling", "spans": [
            {"kind": "image", "text": "", "media_ref": "m://nope/9", "offset": 0},
            {"kind": "pdf", "text": "", "media_ref": "m://nope/8", "offset": 1},
            {"kind": "text", "text": "world", "media_ref": "", "offset": 2}]},
    ]
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame([], MEDIA_SCHEMA)
    got = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in px.normalize_spans(docs_df, media_df).collect()
    }
    for d in docs:
        expected = ox.normalize_document(d["doc_id"], d["spans"], {})
        assert got[d["doc_id"]] == expected, d["doc_id"]


def test_pipeline_independent_of_oracle():
    """The production engine must not import the test oracle — spec and
    implementation stay independently falsifiable (the golden tests above
    are the referee between them)."""
    import inspect
    import re

    from micro_lab_ocr_spark.kernels import grid, upstage
    from micro_lab_ocr_spark.operators import drm, grid_extract
    from micro_lab_ocr_spark.pipeline import checkpoint

    imp = re.compile(r"^\s*(from|import)\s+\S*oracle", re.MULTILINE)
    for mod in (px, upstage, grid, grid_extract, drm, checkpoint):
        assert not imp.search(inspect.getsource(mod)), mod.__name__


def test_drm_pdf_spans_pass_through(spark):
    """S2: DRM-encrypted and headerless pdf media are detected and pass
    through undecoded (never dropped, never fed to the layout kernel); clear
    MLPDF containers still decode (`drm_utils.py:19-134`)."""
    from micro_lab_ocr_spark.kernels import pdf as pk

    media = [
        ("m://a/0", b"%PDF-1.7 trailer << /Encrypt 9 0 R >> %%EOF"),
        ("m://a/1", b"\x00\x01corrupted-no-header"),
        ("m://a/2", pk.encode_pdf([{"x0": 0.0, "x1": 10.0, "y0": 0.0, "y1": 10.0, "text": "ok"}])),
    ]
    docs = [{"doc_id": "a", "spans": [
        {"kind": "pdf", "text": "", "media_ref": "m://a/0", "offset": 0},
        {"kind": "pdf", "text": "", "media_ref": "m://a/1", "offset": 1},
        {"kind": "pdf", "text": "", "media_ref": "m://a/2", "offset": 2}]}]
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame([(r, bytearray(c)) for r, c in media], MEDIA_SCHEMA)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in px.normalize_spans(docs_df, media_df).collect()}
    expected = ox.normalize_document("a", docs[0]["spans"], dict(media))
    assert got["a"] == expected
    assert got["a"][0]["kind"] == "pdf"   # encrypted → untouched
    assert got["a"][1]["kind"] == "pdf"   # corrupt → untouched
    assert got["a"][2] == {"kind": "text", "text": "ok", "media_ref": "m://a/2", "offset": 2}


def test_grid_records_parity_targeted(spark):
    """Azure grid extraction: page kernel vs oracle on targeted grid shapes
    (keyword header / strain-keyword header / headerless / spec variants),
    through the production entry point: each page's serialized ``lines``
    and its ``date_info``."""
    import random

    from micro_lab_ocr_spark import spanspec
    from micro_lab_ocr_spark.operators import grid_extract

    rng = random.Random(7)
    grids = [fixtures.make_grid(rng) for _ in range(60)]
    rows = [
        (f"g{i:03d}", 0, [(r, c, t) for r, c, t in g]) for i, g in enumerate(grids)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, offset int, cells array<struct<row:int,col:int,text:string>>"
    )
    pages = {r["doc_id"]: r for r in grid_extract.extract_page_lines(df).collect()}
    assert set(pages) == {f"g{i:03d}" for i in range(len(grids))}
    assert any(p["lines"] for p in pages.values()), "no page yielded records"
    bad = []
    for i, g in enumerate(grids):
        doc = f"g{i:03d}"
        grid = ox.grid_from_cells(g)
        exp_lines = "\n".join(
            "|".join(rec[f] for f in spanspec.RECORD_FIELDS)
            for rec in ox.extract_grid_records(grid)
        )
        exp_dates = oc.extract_date_info_from_grid(grid)
        got = pages[doc]
        got_dates = got["date_info"].asDict() if got["date_info"] else {}
        if got["lines"] != exp_lines:
            bad.append((doc, "lines", got["lines"][:200], exp_lines[:200]))
        if got_dates != exp_dates:
            bad.append((doc, "dates", got_dates, exp_dates))
    assert not bad, f"{len(bad)} grid mismatches; first: {bad[:2]}"


def test_null_content_media_pass_through(spark):
    """A media row with NULL content is a dangling ref: the decode kernels
    must never see it (bytes(None) would kill the job) and the span passes
    through unchanged — never lost."""
    docs = [{"doc_id": "n", "spans": [
        {"kind": "image", "text": "orig-img", "media_ref": "m://n/0", "offset": 0},
        {"kind": "pdf", "text": "orig-pdf", "media_ref": "m://n/1", "offset": 1},
        {"kind": "text", "text": "hello", "media_ref": "", "offset": 2}]}]
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame(
        [("m://n/0", None), ("m://n/1", None)], MEDIA_SCHEMA
    )
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in px.normalize_spans(docs_df, media_df).collect()}
    # oracle semantics: null content == ref absent from the media map
    expected = ox.normalize_document("n", docs[0]["spans"], {})
    assert got["n"] == expected
    assert got["n"][0] == {"kind": "image", "text": "orig-img", "media_ref": "m://n/0", "offset": 0}
    assert got["n"][1] == {"kind": "pdf", "text": "orig-pdf", "media_ref": "m://n/1", "offset": 1}


def test_png_image_spans_decode_end_to_end(spark):
    """A REAL PNG raster rides the full image branch (media join → OCR kernel
    → grid extraction) and produces the same table span as the MLIMG form;
    undecodable image bytes (JPEG magic) pass through unchanged."""
    from micro_lab_ocr_spark.kernels import ocr as ok
    from micro_lab_ocr_spark.kernels import png as pk

    cells = [(0, 0, "S.aureus"), (0, 1, "<10"), (1, 0, "E.coli"), (1, 1, "5.5X105")]
    mlimg = ok.render_grid_image(cells)
    png_bytes = pk.bitmap_to_png(ok.mlimg_bits(mlimg))
    media = [
        ("m://p/0", png_bytes),
        ("m://p/1", mlimg),
        ("m://p/2", b"\xff\xd8\xff\xe0 fake-jpeg"),
    ]
    docs = [{"doc_id": "p", "spans": [
        {"kind": "image", "text": "", "media_ref": "m://p/0", "offset": 0},
        {"kind": "image", "text": "", "media_ref": "m://p/1", "offset": 1},
        {"kind": "image", "text": "jpeg-orig", "media_ref": "m://p/2", "offset": 2}]}]
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame([(r, bytearray(c)) for r, c in media], MEDIA_SCHEMA)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in px.normalize_spans(docs_df, media_df).collect()}
    expected = ox.normalize_document("p", docs[0]["spans"], dict(media))
    assert got["p"] == expected
    assert got["p"][0]["kind"] == "table"                      # PNG decoded
    assert got["p"][0]["text"] == got["p"][1]["text"]          # == MLIMG result
    assert got["p"][2] == {"kind": "image", "text": "jpeg-orig",
                           "media_ref": "m://p/2", "offset": 2}


def test_real_pdf_spans_decode_end_to_end(spark):
    """A REAL %PDF file rides the full pdf branch (DRM detect → media join →
    stdlib text-layer parse → XY-cut) next to the MLPDF fixture form;
    /Encrypt-flagged and image-only real PDFs pass through unchanged."""
    import zlib

    from micro_lab_ocr_spark.kernels import pdf as pk

    blocks = [
        {"x0": 50, "x1": 150, "y0": 40, "y1": 52, "text": "alpha"},
        {"x0": 50, "x1": 150, "y0": 60, "y1": 72, "text": "beta"},
    ]
    real = pk.encode_real_pdf(blocks)
    mlpdf = pk.encode_pdf(blocks)
    encrypted = real.replace(b"/Type /Catalog", b"/Type /Catalog /Encrypt 9 0 R")
    body = zlib.compress(b"q 612 0 0 792 0 0 cm /Im0 Do Q")
    imageonly = (
        b"%PDF-1.4\n4 0 obj << /Filter /FlateDecode /Length "
        + str(len(body)).encode() + b" >> stream\n" + body + b"\nendstream endobj\n%%EOF"
    )
    media = [
        ("m://q/0", real),
        ("m://q/1", mlpdf),
        ("m://q/2", encrypted),
        ("m://q/3", imageonly),
    ]
    docs = [{"doc_id": "q", "spans": [
        {"kind": "pdf", "text": "", "media_ref": "m://q/0", "offset": 0},
        {"kind": "pdf", "text": "", "media_ref": "m://q/1", "offset": 1},
        {"kind": "pdf", "text": "drm-orig", "media_ref": "m://q/2", "offset": 2},
        {"kind": "pdf", "text": "img-orig", "media_ref": "m://q/3", "offset": 3}]}]
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame([(r, bytearray(c)) for r, c in media], MEDIA_SCHEMA)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in px.normalize_spans(docs_df, media_df).collect()}
    expected = ox.normalize_document("q", docs[0]["spans"], dict(media))
    assert got["q"] == expected
    assert got["q"][0]["kind"] == "text" and got["q"][0]["text"] == "alpha\nbeta"
    assert got["q"][0]["text"] == got["q"][1]["text"]          # real == fixture
    assert got["q"][2] == {"kind": "pdf", "text": "drm-orig",
                           "media_ref": "m://q/2", "offset": 2}
    assert got["q"][3] == {"kind": "pdf", "text": "img-orig",
                           "media_ref": "m://q/3", "offset": 3}


def test_jpeg_image_spans_decode_end_to_end(spark):
    """A REAL baseline JPEG raster rides the full image branch (media join →
    OCR kernel → grid extraction) and produces the same table span as the
    MLIMG form; a magic-valid-but-CORRUPT raster (truncated PNG) comes back
    from the kernel with ok=false and passes through unchanged — decode
    failure must never crash the job or fabricate an empty table span."""
    import numpy as np

    from micro_lab_ocr_spark.kernels import jpeg as jk
    from micro_lab_ocr_spark.kernels import ocr as ok
    from micro_lab_ocr_spark.kernels import png as pk

    cells = [(0, 0, "S.aureus"), (0, 1, "<10"), (1, 0, "E.coli"), (1, 1, "5.5X105")]
    mlimg = ok.render_grid_image(cells)
    gray = np.where(ok.mlimg_bits(mlimg).astype(bool), 0, 255).astype(np.uint8)
    jpeg_bytes = jk.encode_jpeg(gray, quality=95, restart_interval=16)
    corrupt_png = pk.bitmap_to_png(ok.mlimg_bits(mlimg))[:40]  # magic ok, payload truncated
    media = [
        ("m://j/0", jpeg_bytes),
        ("m://j/1", mlimg),
        ("m://j/2", corrupt_png),
    ]
    docs = [{"doc_id": "j", "spans": [
        {"kind": "image", "text": "", "media_ref": "m://j/0", "offset": 0},
        {"kind": "image", "text": "", "media_ref": "m://j/1", "offset": 1},
        {"kind": "image", "text": "orig-text", "media_ref": "m://j/2", "offset": 2}]}]
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame([(r, bytearray(c)) for r, c in media], MEDIA_SCHEMA)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in px.normalize_spans(docs_df, media_df).collect()}
    expected = ox.normalize_document("j", docs[0]["spans"], dict(media))
    assert got["j"] == expected
    assert got["j"][0]["kind"] == "table"                      # JPEG decoded
    assert got["j"][0]["text"] == got["j"][1]["text"]          # == MLIMG result
    assert got["j"][2] == {"kind": "image", "text": "orig-text",
                           "media_ref": "m://j/2", "offset": 2}


def _frames(spark, docs, media):
    docs_df = spark.createDataFrame(
        [(d["doc_id"], None if d["spans"] is None else
          [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame(
        [(m["media_ref"], bytearray(m["content"])) for m in media], MEDIA_SCHEMA
    )
    return docs_df, media_df


def test_duplicate_media_rows_and_empty_docs(spark):
    """A media_ref listed twice in the media table must not duplicate its
    span: each span resolves to exactly one output row. Zero-span and
    NULL-spans docs survive with an empty span list next to a non-empty
    media table (test_edge_docs_not_lost covers them with empty media)."""
    docs, media, _ = fixtures.generate_corpus(
        n_docs=6, seed=3, skew=False, mix=fixtures.MEDIA_HEAVY_MIX
    )
    duplicated = media + media[:5]
    docs = docs + [{"doc_id": "empty", "spans": []}, {"doc_id": "null", "spans": None}]
    docs_df, media_df = _frames(spark, docs, duplicated)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in px.normalize_spans(docs_df, media_df).collect()}
    assert set(got) == {d["doc_id"] for d in docs}
    media_map = {m["media_ref"]: m["content"] for m in media}
    dup_refs = {m["media_ref"] for m in media[:5]}
    assert any(s["media_ref"] in dup_refs for d in docs for s in d["spans"] or [])
    for d in docs:
        expected = ox.normalize_document(d["doc_id"], d["spans"] or [], media_map)
        assert got[d["doc_id"]] == expected, d["doc_id"]


def test_mega_doc_matches_oracle(spark):
    """One doc of >=10^4 spans, mostly text/html and stored out of offset
    order, among ordinary docs: the W2 window and the reassembly both run
    it on one task of the doc_id exchange and it must still match the
    oracle span for span."""
    import random

    parts, media, _ = fixtures.generate_corpus(
        n_docs=1500, seed=17, skew=False, mix=(0.80, 0.96, 0.985, 0.993)
    )
    # the ordinary docs below reuse the fixture's media_ref names: prefix
    # the mega doc's refs so that each ref names one blob
    spans = [dict(s, offset=i, media_ref=s["media_ref"] and "mega:" + s["media_ref"])
             for i, s in enumerate(s for d in parts for s in d["spans"])]
    assert len(spans) >= 10_000
    random.Random(17).shuffle(spans)
    docs, more_media, _ = fixtures.generate_corpus(n_docs=12, seed=18, skew=False)
    docs = docs + [{"doc_id": "mega", "spans": spans}]
    media = [dict(m, media_ref="mega:" + m["media_ref"]) for m in media] + more_media
    docs_df, media_df = _frames(spark, docs, media)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in px.normalize_spans(docs_df, media_df).collect()}
    media_map = {m["media_ref"]: m["content"] for m in media}
    assert len(got["mega"]) == len(spans)
    for d in docs:
        assert got[d["doc_id"]] == ox.normalize_document(d["doc_id"], d["spans"], media_map), (
            d["doc_id"]
        )
