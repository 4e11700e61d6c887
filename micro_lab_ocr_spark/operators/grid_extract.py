"""Azure-engine grid → records, as pure Catalyst (the flagship rewrite).

Re-creates `backend_preservation.py`'s imperative page loop declaratively:

* W8 header detect (`:737-806`)      → per-page conditional aggregates
* column map + A7 spec vote (`:808-923`) → per-cell classification + max/min
  aggregates + ordinal-window vote
* W1 fill-down (`:467-491`)          → ``last(ignoreNulls)`` window
* F-chain cell cleaning (`:1503-1543`) → Column expressions (parity-tested)
* A2 strain-group sort (`:546-578`)  → change-detection window + sort keys
* F19 date extraction (`:294-414`)   → per-row date collection + min structs

Scale design: ONE shuffle — everything is keyed by page = (doc_id, offset);
the input is repartitioned once on that key and every groupBy/window/join
below reuses the partitioning (verified via ``.explain``: single Exchange).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from micro_lab_ocr_spark.functions import cleaners as C

_HEADER_KEYWORDS = ["CHALLENGED ORGANISM", "BULK NAME", "SPECIFICATION"]
_STRAIN_KEYWORDS = [
    "E.COLI", "ESCHERICHIA", "P.AERUGINOSA", "PSEUDOMONAS",
    "S.AUREUS", "STAPHYLOCOCCUS", "C.ALBICANS", "CANDIDA",
    "A.BRASILIENSIS", "ASPERGILLUS", "균주", "STRAIN",
]
_CFU_VALUE_RE = r"\d+\.?\d*\s*[×xX]\s*10[\^]?\d+"
_SPEC_VALUE_RE = r"^(≤[0-9]+[°cC]?|[0-9]{1,2}[°cC]?|SI)$"

PAGE = ["doc_id", "offset"]


def _contains_any(col: Column, keywords: list[str]) -> Column:
    out = F.lit(False)
    for k in keywords:
        out = out | col.contains(k)
    return out


def extract_page_lines(grids: DataFrame) -> DataFrame:
    """Grid pages → one row per page: the only public grid entry point.

    ``grids(doc_id, offset, cells: array<struct<row:int,col:int,text:string>>)``
    → ``(*keys, lines, date_info)``. ``lines`` is the records serialized as
    "|"-joined :data:`spanspec.RECORD_FIELDS` joined by "\\n" in output order
    (group_id, strain_rank, row) — "" for pages with no records.
    ``date_info`` is the nullable date struct, extracted even for pages that
    yield no records (`backend_preservation.py:284-292`).

    PASSTHROUGH MODE: when ``grids`` additionally carries page-constant
    columns ``media_ref``, ``span_text``, ``ok`` (the pipeline's OCR-kernel
    output with decode-failure routing), they ride through as extra grouping
    keys — constant per page, so the groups are unchanged. ``explode_outer``
    (not explode) keeps failed/empty pages present so the pipeline can route
    them.

    ONE consumer of the page-key exchange — per-row enrichment (windows)
    feeding a single groupBy(page) that emits the serialized record block and
    the page-constant metadata together. Why fused: the previous shape
    (records → page_text groupBy) ⋈ (pages groupBy) read the cells exchange
    TWICE and ran the cells→rows ObjectHashAggregate twice — measured 654 MB
    shuffle read vs 338 MB written on the 36k-doc scaling corpus, in the
    stage whose memory traffic caps scaling efficiency. One consumer reads
    the exchange once, aggregates once, and needs no join.

    The 9 record fields are pre-concatenated into the final line BEFORE
    collect_list, so the sort/agg carries a 4-field struct instead of 12
    (13% lower wall on the production job at local[16]).
    """
    from micro_lab_ocr_spark import spanspec

    r, keys = _enriched_rows(grids)
    rec_struct = F.struct(
        "group_id", "strain_rank", "row",
        F.concat_ws("|", *spanspec.RECORD_FIELDS).alias("line"),
    )
    return r.groupBy(*keys).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("is_record"), rec_struct))
                ),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("lines"),
        F.first("date_info").alias("date_info"),
    )


def _enriched_rows(grids: DataFrame) -> tuple[DataFrame, list[str]]:
    """The per-row grid frame behind :func:`extract_page_lines`: cells →
    per-row rollup → header detect / column classification / spec vote /
    fill-down / clean chain / A2 grouping, ALL as window functions over the
    single page-key partitioning — no filtering, so the page aggregate sees
    every page including empty/failed ones.

    Row-level predicates become flags instead of filters:

    * ``is_data``   — the row is below the header with a resolvable strain
      column (the old ``data`` filter). Fill-down sources are guarded by it,
      so ``last(ignorenulls)`` over the unfiltered frame picks up exactly the
      values the filtered frame used to see.
    * ``is_record`` — ``is_data`` AND the strain cell is non-empty after
      normalization (the old post-fill-down filter). The A2 lag becomes
      ``last(when(is_record, test_number))`` over ``(unboundedPreceding, -1)``
      — the previous RECORD row's value, identical to ``lag`` over the
      filtered frame.
    """
    spark = grids.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    passthrough = [c for c in ("media_ref", "span_text", "ok") if c in grids.columns]
    keys = [*PAGE, *passthrough]
    cells = (
        # explicit page-key not-null filter BELOW the exchange: consumers
        # infer different IsNotNull constraints, which would canonicalize
        # re-used copies of this exchange differently — the explicit superset
        # filter subsumes the inferences, keeping one exchange
        grids.where(F.col(PAGE[0]).isNotNull() & F.col(PAGE[1]).isNotNull())
        .repartition(n_part, *PAGE)
        .select(*keys, F.explode_outer("cells").alias("cell"))
        .select(*keys, F.col("cell.row").alias("row"), F.col("cell.col").alias("col"),
                F.col("cell.text").alias("text"))
    )

    # ---- per-row rollup -------------------------------------------------
    fixed = C.fix_date_cell(F.trim(F.col("text")))
    date_m = F.coalesce(
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})[/\-.](\d{1,2})$", 1), F.lit("")),
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})\s+(\d{1,2})$", 1), F.lit("")),
    )
    date_d = F.coalesce(
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})[/\-.](\d{1,2})$", 2), F.lit("")),
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})\s+(\d{1,2})$", 2), F.lit("")),
    )
    # cell structs wrapped in when(col IS NOT NULL): the explode_outer null
    # row of an empty/failed page must not reach map_from_entries (null map
    # key) — collect_list skips the null structs, real cells always have col
    cell_struct = F.when(F.col("col").isNotNull(), F.struct("col", "text"))
    rows = (
        cells.withColumn("date_m", date_m)
        .withColumn("date_d", date_d)
        .groupBy(*keys, "row")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(cell_struct)), lambda x: x["text"]
                ),
                " ",
            ).alias("row_text"),
            F.map_from_entries(
                F.array_sort(F.collect_list(cell_struct))
            ).alias("row_map"),
            F.max(
                (F.regexp_like(F.trim("text"), F.lit(_CFU_VALUE_RE))
                 | F.trim("text").rlike(r"^\d{4,}$")).cast("int")
            ).alias("has_cfu"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("date_m").isNotNull(),
                           F.struct("col", "date_m", "date_d"))
                )
            ).alias("date_cells"),
        )
        .withColumn("row_text_u", F.upper("row_text"))
    )

    # ---- page metadata: W8 header detect + F19 dates, as WINDOW aggregates
    # over the same (PAGE, row) partitioning as everything else — one
    # exchange read, one sort shared by every window, zero joins (the
    # groupBy-branches-joined-back shape measured ~6× read amplification on
    # the cells exchange before the window rewrite).
    wp = Window.partitionBy(*PAGE)
    wcum = (
        Window.partitionBy(*PAGE).orderBy("row")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def _is_strain_cell(v: Column) -> Column:
        vu = F.upper(F.trim(v))
        return (v.contains("균주") | vu.contains("STRAIN")
                | vu.contains("E.COLI") | vu.contains("ORGANISM"))

    def _is_spec_cell(v: Column) -> Column:
        vu = F.upper(F.trim(v))
        return vu.contains("SPECIFICATION") | vu.contains("SPEC")

    def _cfu_class(v: Column) -> Column:
        vu = F.upper(F.trim(v))
        day_base = v.contains("일") | vu.contains("DAY") | vu.contains("CFU")
        return (
            F.when(v.contains("0") & (day_base | v.contains("접종")), F.lit(0))
            .when(v.contains("7") & day_base, F.lit(7))
            .when(v.contains("14") & day_base, F.lit(14))
            .when(v.contains("28") & day_base, F.lit(28))
        )

    def _is_judg_cell(v: Column) -> Column:
        return v.contains("판정") | F.upper(F.trim(v)).contains("JUDGMENT")

    def _is_final_cell(v: Column) -> Column:
        return _is_judg_cell(v) & (v.contains("최종") | F.upper(F.trim(v)).contains("FINAL"))

    def _cols_where(m: Column, pred) -> Column:
        """Keys of map ``m`` whose value satisfies ``pred`` (header-cell
        classification over the header row's col→text map)."""
        return F.transform(
            F.filter(F.map_entries(m), lambda e: pred(e["value"])), lambda e: e["key"]
        )

    # Window functions that do not read each other's output are added in ONE
    # withColumns: each withColumn is its own Project, and a Project between
    # two Windows blocks CollapseWindow, so a withColumn per window function
    # plans one Window operator (and its generated classes) per column.
    r = (
        rows.withColumns({
            "hdr1": F.min(F.when(
                (F.col("row") < 5) & _contains_any(F.col("row_text_u"), _HEADER_KEYWORDS),
                F.col("row"))).over(wp),
            "cand": F.min(F.when(
                (F.col("row") < 15) & _contains_any(F.col("row_text_u"), _STRAIN_KEYWORDS),
                F.struct("row", "has_cfu"))).over(wp),
            # F19 pass 1: first row (<5) with ≥4 date cells; pass 2: first date cell
            "pass1": F.min(F.when(
                (F.col("row") < 5) & (F.size("date_cells") >= 4),
                F.struct("row", "date_cells"))).over(wp),
            "pass2": F.min(F.when(
                (F.col("row") < 5) & (F.size("date_cells") >= 1),
                F.struct(
                    "row",
                    F.element_at("date_cells", 1).getField("col").alias("col"),
                    F.element_at("date_cells", 1).getField("date_m").alias("m"),
                    F.element_at("date_cells", 1).getField("date_d").alias("d"),
                ))).over(wp),
        })
        .withColumn(
            "header_row",
            F.when(F.col("hdr1").isNotNull(), F.col("hdr1")).otherwise(
                F.when(F.col("cand").isNotNull(),
                       F.when(F.col("cand.has_cfu") == 1, F.lit(-1))
                       .otherwise(F.col("cand.row")))
            ),
        )
        .withColumn("header_eff",
                    F.when(F.col("header_row") == -1, F.lit(0)).otherwise(F.col("header_row")))
    )

    # ---- date_info struct (F17/F19/F21), page-constant ---------------------
    def _zp(i: int) -> Column:
        dc = F.element_at(F.col("pass1.date_cells"), i + 1)
        return F.concat(F.lpad(dc.getField("date_m"), 2, "0"), F.lit("/"),
                        F.lpad(dc.getField("date_d"), 2, "0"))

    p2m = F.col("pass2.m").try_cast("int")
    p2d = F.col("pass2.d").try_cast("int")
    ladder_ok = (
        F.col("pass2").isNotNull() & p2m.between(1, 12) & p2d.between(1, 28)
    )  # mirrors the reference's try/except datetime(2024, m, d) on the
    # fixture-reachable domain (all fixture days ≤ 28)
    r = r.withColumn(
        "date_info",
        F.when(
            F.col("pass1").isNotNull(),
            F.struct(_zp(0).alias("date_0"), _zp(1).alias("date_7"),
                     _zp(2).alias("date_14"), _zp(3).alias("date_28")),
        ).when(ladder_ok, C.date_ladder(p2m, p2d)),
    ).drop("pass1", "pass2")

    # ---- header-column classification, ONCE PER PAGE ---------------------
    # The classifiers read only the header row's col→text map, so their
    # results are page-constant — but as plain projections over a window-
    # carried header map they re-ran the interpreted _cols_where lambdas on
    # EVERY row of the page (8 classifiers × map entries × every row: the
    # dominant interpreted cost of the binding stage, measured per stage
    # from the event log). Each classifier now evaluates on the one
    # row WHERE row == header_eff — when() short-circuits everywhere else —
    # and a page max broadcasts the resulting column INDEX over the page, so
    # the header map itself never rides the window payload. Value-identical:
    # only the header row can be non-null, so max picks exactly the value the
    # hdr_map projection used to compute, and a classifier that finds no
    # column stays null through the same path. max, not first(ignorenulls):
    # Spark gives each first(ignorenulls) its own nth_value frame, keyed in a
    # hash map by its input — here lambdas whose variable names are fresh on
    # every plan build — so eight of them in one Window come out in a
    # different slot order per build and their projections recompile on
    # every pass (7–9 classes per warm pass, counted with CodegenMetrics);
    # eight max aggregates share one frame.
    def _page_col(expr: Column) -> Column:
        return F.max(F.when(F.col("row") == F.col("header_eff"), expr)).over(wp)

    rm = F.col("row_map")
    r = r.withColumns({
        "strain_col": _page_col(F.array_max(_cols_where(rm, _is_strain_cell))),
        "spec_col0": _page_col(F.array_max(_cols_where(rm, _is_spec_cell))),
        "cfu0_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 0))),
        "cfu7_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 7))),
        "cfu14_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 14))),
        "cfu28_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 28))),
        "judg_k": _page_col(F.array_min(
            _cols_where(rm, lambda v: _is_judg_cell(v) & ~_is_final_cell(v)))),
        "final_k": _page_col(F.array_max(_cols_where(rm, _is_final_cell))),
    })
    # A7 — Specification inference by value-pattern vote over the first 5
    # rows (after the header) that HAVE the strain_col+1 column: the rank
    # among qualifying rows is a cumulative count, the vote a page window sum.
    # val1 is projected ONCE before the vote windows — a short string instead
    # of two map lookups riding through their frames.
    r = r.withColumn("val1", F.try_element_at("row_map", F.col("strain_col") + 1))
    val1 = F.col("val1")
    qual = (
        F.col("strain_col").isNotNull()
        & val1.isNotNull()
        & (F.col("row") > F.col("header_eff"))
    )
    r = r.withColumn("vote_rn", F.sum(qual.cast("int")).over(wcum))
    r = r.withColumn("spec_votes", F.sum(
        F.when(qual & (F.col("vote_rn") <= 5)
               & F.trim(val1).rlike(_SPEC_VALUE_RE), 1).otherwise(0)
    ).over(wp))
    r = (
        r.withColumn(
            "spec_col",
            F.coalesce(
                F.col("spec_col0"),
                F.when(F.col("spec_votes") >= 3, F.col("strain_col") + 1),
                F.lit(-1),
            ),
        )
        .withColumn(
            "cfu_start",
            F.when(F.col("spec_col") > F.col("strain_col"), F.col("spec_col") + 1)
            .otherwise(F.col("strain_col") + 1),
        )
        .withColumn("cfu_0_col", F.coalesce("cfu0_k", F.col("cfu_start")))
        .withColumn("cfu_7_col", F.coalesce("cfu7_k", F.col("cfu_start") + 1))
        .withColumn("cfu_14_col", F.coalesce("cfu14_k", F.col("cfu_start") + 2))
        .withColumn("cfu_28_col", F.coalesce("cfu28_k", F.col("cfu_start") + 3))
        .withColumn("judgment_col", F.coalesce("judg_k", F.col("cfu_start") + 4))
        .withColumn("final_judgment_col", F.coalesce("final_k", F.col("cfu_start") + 5))
    )

    def cell_at(col_key: str) -> Column:
        return F.coalesce(F.try_element_at("row_map", F.col(col_key)), F.lit(""))

    # Every row_map lookup happens HERE, the moment the column indices are
    # resolved — so the map (the widest column in the frame) is dropped
    # before the fill-down / lag window passes below and their per-partition
    # buffers carry six short strings instead of the full col→text map.
    r = (
        r.withColumn("bulk", F.trim(F.coalesce(F.try_element_at("row_map", F.lit(0)), F.lit(""))))
        .withColumn("strain_raw", F.trim(cell_at("strain_col")))
        .withColumn("c0_raw", cell_at("cfu_0_col"))
        .withColumn("c7_raw", cell_at("cfu_7_col"))
        .withColumn("c14_raw", cell_at("cfu_14_col"))
        .withColumn("c28_raw", cell_at("cfu_28_col"))
        .withColumn("judg_raw", cell_at("judgment_col"))
        .withColumn("final_raw", cell_at("final_judgment_col"))
        .drop("row_map")
    )

    # ---- data rows: W1 fill-down + clean chain, flag-gated ----------------
    # ``is_data`` replaces the old row filter (below-header + resolvable
    # strain column). Every fill-down SOURCE is guarded by it, so
    # last(ignorenulls) over the unfiltered frame sees exactly the values the
    # filtered frame used to — non-data rows contribute nothing and merely
    # carry (unused) filled values.
    is_data = F.coalesce(
        F.col("header_row").isNotNull()
        & ((F.col("header_row") == -1) | (F.col("row") > F.col("header_row")))
        & F.col("strain_col").isNotNull(),
        F.lit(False),
    )
    r = r.withColumn("is_data", is_data)

    w = Window.partitionBy(*PAGE).orderBy("row").rowsBetween(Window.unboundedPreceding, 0)
    # staged F1→F2/F3 (see cleaners.extract_ids_staged): a row with no bulk
    # cell to read gets "" from the null source, which the nullif below
    # drops from the fill-down exactly like a miss.
    r = C.extract_ids_staged(
        r, F.when(F.col("is_data") & (F.col("bulk") != ""), F.col("bulk")), "t_ext", "p_ext"
    )
    r = (
        r.withColumns({
            "test_number": F.coalesce(
                F.last(F.nullif("t_ext", F.lit("")), True).over(w), F.lit("")),
            "prescription_number": F.coalesce(
                F.last(F.nullif("p_ext", F.lit("")), True).over(w), F.lit("")),
        })
        .withColumn("strain", F.when(F.col("is_data"), C.normalize_strain(F.col("strain_raw"))))
        # strain cell must exist (reference: col in row) and normalize non-empty
        .withColumn(
            "is_record",
            F.coalesce(
                F.col("is_data") & (F.col("strain_raw") != "") & (F.col("strain") != ""),
                F.lit(False),
            ),
        )
    )
    final_raw = F.col("final_raw")
    rec = F.col("is_record")
    # staged projections (see cleaners.clean_cfu_staged): the four day-column
    # clean chains run in whole-stage codegen instead of interpreted let()
    # HOF eval — this is the flagship/production path's per-row hot loop.
    # Inputs gated on is_record: when() short-circuits the chains on header /
    # pre-header / strain-less rows, whose outputs nothing consumes.
    r = C.clean_cfu_staged(
        r,
        {
            "c0": F.when(rec, F.col("c0_raw")),
            "c7": F.when(rec, F.col("c7_raw")),
            "c14": F.when(rec, F.col("c14_raw")),
            "c28": F.when(rec, F.col("c28_raw")),
        },
        [
            ("c0", "0", "cfu_0day"),
            ("c7", "7", "cfu_7day"),
            ("c14", "14", "cfu_14day"),
            ("c28", "28", "cfu_28day"),
        ],
    )
    r = r.withColumn(
        "judgment", F.when(rec, C.extract_judgment(F.col("judg_raw")))
    ).withColumn(
        "final_judgment",
        F.when(
            rec,
            F.when(final_raw == "", F.lit("")).otherwise(C.extract_judgment(final_raw)),
        ),
    )

    # ---- A2 — strain-group sort within consecutive test groups ----------
    # lag over the old filtered frame = the previous RECORD row's value here:
    # last(when(is_record, …), ignorenulls) over (unboundedPreceding, -1).
    wprev = Window.partitionBy(*PAGE).orderBy("row").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_test = F.last(F.when(rec, F.col("test_number")), True).over(wprev)
    r = (
        r.withColumn(
            "new_group",
            F.when(
                rec & (prev_test.isNull() | (prev_test != F.col("test_number"))),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("group_id", F.sum("new_group").over(wcum))
        .withColumn("strain_rank", F.when(rec, C.strain_rank(F.col("strain"))))
        .drop("new_group")
    )
    return r, keys
