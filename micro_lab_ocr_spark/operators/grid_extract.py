"""Azure-engine grid pages → serialized record lines, over the page kernel.

The page pass itself (W8 header detect, column map + A7 vote, W1 fill-down,
F-chain cleaning, A2 sort, F19 dates) is :mod:`micro_lab_ocr_spark.kernels.grid`;
the pipeline runs it inside the media kernel (pipeline/extract._media_spans).
This operator applies the same kernel to already-decoded grids.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from micro_lab_ocr_spark import spanspec

_DATE_INFO = "struct<" + ",".join(f"{k}:string" for k in spanspec.DATE_KEYS) + ">"


def _page_lines(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from micro_lab_ocr_spark.kernels import grid as gk

    for pdf in it:
        lines, dates = [], []
        for cells in pdf["cells"]:
            date_info, records = gk.extract_page(
                (c["row"], c["col"], c["text"]) for c in cells
            )
            lines.append("\n".join(
                "|".join(rec[f] for f in spanspec.RECORD_FIELDS) for rec in records
            ))
            dates.append(date_info or None)
        out = pdf.drop(columns="cells")
        out["lines"] = lines
        out["date_info"] = dates
        yield out


def extract_page_lines(grids: DataFrame) -> DataFrame:
    """Grid pages → one row per page.

    ``grids(doc_id, offset, cells: array<struct<row:int,col:int,text:string>>)``
    → ``(doc_id, offset, lines, date_info)``. ``lines`` is the records
    serialized as "|"-joined :data:`spanspec.RECORD_FIELDS` joined by "\\n"
    in output order — "" for pages with no records. ``date_info`` is the
    nullable date struct, extracted even for pages that yield no records
    (`backend_preservation.py:284-292`). Page-constant ``media_ref``,
    ``span_text`` and ``ok`` columns, when present, ride through after
    ``offset``. One ``mapInPandas``, no shuffle.
    """
    keys = [c for c in ("doc_id", "offset", "media_ref", "span_text", "ok") if c in grids.columns]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in grids.select(*keys).schema]
        + ["lines string", f"date_info {_DATE_INFO}"]
    )
    return grids.select(*keys, "cells").mapInPandas(_page_lines, schema)
