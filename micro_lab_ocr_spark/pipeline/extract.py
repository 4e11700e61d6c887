"""The flagship pipeline: interleaved spans → normalized spans per doc_id.

Dataflow (SURVEY §3.1 lifecycle, Spark-first):

    docs(doc_id, spans) ──posexplode_outer──► span rows (+ one marker row
    │                                         per doc without spans)
    ├─► mapInPandas(row kernel)                               prio 1
    │     text → text · html → main content · table_html → Upstage
    │     page (lines, ok, own date) · pdf / image / unknown kinds →
    │     unchanged (the pass-through every media span falls back to)
    └─► pdf/image refs ──broadcast──► ⋈ media scan (decodable bytes only)
          → mapInPandas(media kernel)                         prio 0
            pdf → XY-cut layout text · image → OCR decode + Azure page
            pass (kernels/grid.py) → table span; successes only
    ──unionByName──► Exchange hashpartitioning(doc_id)        [1 shuffle]
      → Window(doc_id ORDER BY offset, pos, prio): W2 date carry
        last(own_date, ignorenulls); a row whose span already has a
        lower-prio row drops out (the lowest priority wins per span)
      → groupBy(doc_id) on the same partitioning: collect + sort →
        dense offsets (marker rows collect nothing: zero-span docs
        keep an empty array)

Scale notes: media CONTENT never enters a shuffle OR a broadcast — under
``media_join="broadcast"`` the narrow span-ref projection broadcasts onto the
media scan and the media kernel runs in the scan's own stage (right when the
refs side is bounded, e.g. per checkpoint bucket); under ``"shuffle_refs"``
nothing is force-broadcast and the narrow refs exchange to meet a
media table stored bucketed on media_ref (catalog.write_media_bucketed /
Iceberg ``bucket(N, media_ref)`` + SPJ), whose scan plans NO exchange. The
W2 window and the reassembly share the one doc_id exchange, so a mega-doc
lands on one task for both. The Upstage FIFO fallback state is page-local
(SURVEY §4.3) and the Azure grid page pass is page-local too, so both run
inside the Arrow kernels. Arrow batches are capped at 512 rows (session.py)
so media batches stay cache-friendly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from micro_lab_ocr_spark.operators import drm

# Both kernels emit this shape. ``pos`` is the span's index in the doc's
# ``spans`` array (its identity); ``prio`` orders the candidate rows of one
# span (0 = media kernel success, 1 = row kernel). ``ok`` / ``own_date`` are
# set only on Upstage pages: ``ok`` false = the min-row gate failed.
ROW_SCHEMA = (
    "doc_id string, pos int, offset int, prio int, kind string, text string, "
    "media_ref string, ok boolean, own_date string"
)


# ---------------------------------------------------------------------------
# Arrow kernels (mapInPandas iterators — the only Python in the plan)
# ---------------------------------------------------------------------------


def _span_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The row kernel: every exploded row → one prio-1 row. ``pdf`` /
    ``image`` spans, unknown kinds and the zero-span marker rows pass
    through unchanged; a media kernel success for the same span outranks
    the pass-through downstream."""
    from micro_lab_ocr_spark.kernels import html as hk
    from micro_lab_ocr_spark.kernels import upstage as uk

    for pdf in it:
        n = len(pdf)
        kinds, texts, refs = list(pdf["kind"]), list(pdf["text"]), list(pdf["media_ref"])
        ok: list[bool | None] = [None] * n
        own_date: list[str | None] = [None] * n
        for i, kind in enumerate(kinds):
            if kind == "text":
                refs[i] = ""
            elif kind == "html":
                kinds[i], texts[i], refs[i] = "text", hk.extract_main_content(texts[i]), ""
            elif kind == "table_html":
                kinds[i], refs[i] = "table", ""
                texts[i], ok[i], own_date[i] = uk.parse_page(texts[i])
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"], "pos": pdf["pos"], "offset": pdf["offset"], "prio": 1,
            "kind": kinds, "text": texts, "media_ref": refs, "ok": ok, "own_date": own_date,
        })


def _media_spans(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The media kernel: pdf → XY-cut layout text, image → OCR decode + the
    Azure page pass (kernels/grid.py) → ``table`` span. Emits successes
    only, at prio 0. A real %PDF without a text layer, or magic-valid bytes
    whose payload fails to decode (truncated PNG/JPEG, progressive JPEG,
    corrupt MLIMG), emit nothing, so the row kernel's pass-through of the
    ORIGINAL span stands — one corrupt blob must never fail a 10^12-doc
    job."""
    from micro_lab_ocr_spark.kernels import grid as gk
    from micro_lab_ocr_spark.kernels import ocr
    from micro_lab_ocr_spark.kernels import pdf as pk

    for pdf in it:
        keep, kinds, texts = [], [], []
        for i, (kind, content) in enumerate(zip(pdf["kind"], pdf["content"])):
            if kind == "pdf":
                try:
                    texts.append(pk.layout_text(bytes(content)))
                except ValueError:
                    continue
                kinds.append("text")
            else:
                try:
                    cells = ocr.decode_image(bytes(content))
                except ocr.DECODE_ERRORS:
                    continue
                texts.append(gk.page_text(cells))
                kinds.append("table")
            keep.append(i)
        hit = pdf.iloc[keep]
        yield pd.DataFrame({
            "doc_id": hit["doc_id"].to_numpy(), "pos": hit["pos"].to_numpy(),
            "offset": hit["offset"].to_numpy(), "prio": 0, "kind": kinds, "text": texts,
            "media_ref": hit["media_ref"].to_numpy(), "ok": None, "own_date": None,
        })


# ---------------------------------------------------------------------------
# serialization helper (Catalyst mirror of spanspec.serialize_table)
# ---------------------------------------------------------------------------


def _with_dates(dates_line: Column, lines: Column) -> Column:
    # dates_line appears once: a window expression referenced twice would
    # be evaluated twice by the Window operator
    body = F.when(F.coalesce(lines, F.lit("")) == "", F.lit("")).otherwise(
        F.concat(F.lit("\n"), lines)
    )
    return F.concat(F.lit("dates="), dates_line, body)


# ---------------------------------------------------------------------------
# the pipeline
# ---------------------------------------------------------------------------


def normalize_spans(
    docs: DataFrame,
    media: DataFrame | None,
    media_present: bool | None = None,
    media_join: str = "broadcast",
) -> DataFrame:
    """docs(doc_id, spans:array<struct<kind,text,media_ref,offset>>) +
    media(media_ref, content:binary) → (doc_id, spans) normalized.

    ``media_present``: pass False for text-only corpora to prune the media
    kernel WITHOUT the driver-side ``isEmpty()`` action (None = unknown →
    probe once; an eager action at plan-construction time is acceptable only
    when the caller can't know).

    ``media_join`` picks how span refs meet media content (the content bytes
    NEVER shuffle or broadcast under any mode):

    * ``"broadcast"`` (default) — the narrow span-ref projection broadcasts
      onto the media scan; the media kernel runs in the scan's own stage.
      Right when the refs side is bounded (per checkpoint bucket). UNBOUNDED
      refs through the driver is the round-2 flagged risk — hence:
    * ``"shuffle_refs"`` — no forced broadcast: the refs side (still narrow)
      shuffles to meet the media scan. With media stored as a bucketed table
      on media_ref (``catalog.write_media_bucketed`` / Iceberg
      ``bucket(N, media_ref)``), the media side needs NO exchange — content
      flows scan→join→decode within one stage; only ref rows cross the wire."""
    if media_join not in ("broadcast", "shuffle_refs"):
        raise ValueError(f"media_join must be broadcast|shuffle_refs, got {media_join!r}")
    # One exploded frame. posexplode_outer keeps a doc with zero (or NULL)
    # spans as one marker row with a NULL pos, so no join back to docs is
    # needed to keep it.
    rows = docs.select("doc_id", F.posexplode_outer("spans")).select(
        "doc_id",
        "pos",
        F.col("col.offset").alias("offset"),
        F.col("col.kind").alias("kind"),
        F.col("col.text").alias("text"),
        F.col("col.media_ref").alias("media_ref"),
    )
    spans = rows.mapInPandas(_span_rows, ROW_SCHEMA)

    if media is None:
        media_is_empty = True
    elif media_present is not None:
        media_is_empty = not media_present
    else:
        media_is_empty = media.isEmpty()
    if media_is_empty:
        return _assemble(spans)

    # Media routing. The content column is the dominant bytes of the whole
    # job — it must NEVER enter a shuffle (this box's memory-bandwidth
    # calibration shows byte-moving work scales at ~0.1 efficiency 8→32
    # cores; a real cluster pays the same tax in network+spill). So the
    # narrow ref projection of the bucket's pdf/image spans BROADCASTS, once,
    # onto the media scan and the media kernel runs in that scan's stage. In
    # shuffle_refs mode the hint is dropped and the narrow refs exchange to
    # meet the media scan instead — with media stored bucketed on media_ref
    # the media side plans NO exchange, so content still never crosses the
    # wire. Only decodable bytes reach the kernel: S2 DRM detect
    # (`drm_utils.py:19-134`) for pdf, the raster magics for image. NULL
    # content (a dangling ref), DRM-flagged, undecodable and missing refs
    # keep the row kernel's pass-through (S3 decrypt is a non-goal).
    b = F.broadcast if media_join == "broadcast" else (lambda df: df)
    refs = b(
        rows.where(F.col("kind").isin("pdf", "image"))
        .select("doc_id", "pos", "offset", "kind", "media_ref")
    )
    content = F.col("content")
    media_out = (
        media.where(drm.is_decodable(content) | drm.is_decodable_image(content))
        .join(refs, "media_ref")
        .where(
            F.when(F.col("kind") == "pdf", drm.is_decodable(content))
            .otherwise(drm.is_decodable_image(content))
        )
        .select("doc_id", "pos", "offset", "kind", "media_ref", "content")
        .mapInPandas(_media_spans, ROW_SCHEMA)
    )
    return _assemble(spans.unionByName(media_out))


def _assemble(spans: DataFrame) -> DataFrame:
    """One doc_id exchange feeds the W2 window and the reassembly.

    W2 — cross-page date carry within a doc: carry the last page that
    actually parsed a date (`backend.py:256-307`); min-row gate failures
    (ok=false) neither carry nor consume (`backend.py:235-238`). The window
    orders by (offset, pos): spans that tie on offset keep their array
    order, as the oracle's stable sort does. Within one span the lowest
    prio wins; duplicated media rows yield identical prio-0 rows, of which
    the first stands. The surviving rows collect per doc and renumber
    densely in offset order.
    """
    order = Window.partitionBy("doc_id").orderBy("offset", "pos", "prio")
    carried = F.last("own_date", ignorenulls=True).over(
        order.rowsBetween(Window.unboundedPreceding, 0)
    )
    ok = F.col("ok")
    resolved = spans.select(
        "doc_id",
        "pos",
        "offset",
        "kind",
        F.when(ok.isNull(), F.col("text"))
        .when(~ok, F.lit("dates=,,,"))
        .otherwise(_with_dates(F.coalesce(carried, F.lit(",,,")), F.col("text")))
        .alias("text"),
        "media_ref",
        F.coalesce(F.lag("pos").over(order) == F.col("pos"), F.lit(False)).alias("shadowed"),
    ).where(~F.col("shadowed"))
    span = F.struct("offset", "pos", "kind", "text", "media_ref")
    return (
        resolved.groupBy("doc_id")
        .agg(
            # the (offset, pos) prefix is unique per doc, so the struct sort
            # never compares the text payload
            F.array_sort(F.collect_list(F.when(F.col("pos").isNotNull(), span)))
            .alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                F.col("ordered"),
                lambda s, i: F.struct(
                    s.getField("kind").alias("kind"),
                    s.getField("text").alias("text"),
                    s.getField("media_ref").alias("media_ref"),
                    i.alias("offset"),
                ),
            ).alias("spans"),
        )
    )
