"""Production Azure-engine page pass (runs inside the extraction media
kernel; see pipeline/extract._media_spans).

One decoded page — the ``(row, col, text)`` cells of
:func:`micro_lab_ocr_spark.kernels.ocr.decode_image` — becomes its
``date_info`` and its records, in plain Python over a page-local grid:

* W8 header detect (`backend_preservation.py:737-806`), incl. the ``-1``
  headerless sentinel;
* column map + A7 specification vote (`backend_preservation.py:808-923`);
* W1 test#/prescription# fill-down (`backend_preservation.py:467-491`) over
  the F1→F2/F3 bulk-name extraction (`backend_preservation.py:925-1007`);
* the F4→F11 CFU clean chain (`backend_preservation.py:1205-1600`), the F12
  strain filter and F13 judgment (`backend_preservation.py:1170-1203`,
  `:1602-1613`);
* A2 strain-group sort (`backend_preservation.py:546-578`);
* F18/F19 date extraction with the F17 2024 ladder
  (`backend_preservation.py:294-414`).

The page state (fill-down keys, A2 groups) is row-order dependent and
page-local, so it lives in plain locals; Spark sees only the batched Arrow
boundary the OCR decode already pays. Shares only the pattern vocabularies
with the rest of the engine via :mod:`micro_lab_ocr_spark.banks`; the
independent executable spec lives in :mod:`micro_lab_ocr_spark.oracle` and
the parity and golden tests referee the two — this module deliberately does
NOT import from oracle/.
"""

from __future__ import annotations

import functools
import itertools
import re
from datetime import date, timedelta
from operator import itemgetter

from micro_lab_ocr_spark import banks, spanspec

Grid = dict[int, dict[int, str]]

_CFU_VALUE_RE = re.compile(banks.CFU_VALUE_PATTERN)
_LONG_NUMBER_RE = re.compile(r"^\d{4,}$")
_SPEC_VALUE_RE = re.compile(banks.SPEC_VALUE_PATTERN)

# ---------------------------------------------------------------------------
# F4–F11 — the integrated per-cell CFU clean
# ---------------------------------------------------------------------------

_MERGED_SCI_RE = re.compile(banks.MERGED_SCIENTIFIC)
_MERGED_LT_RE = re.compile(banks.MERGED_LESS_THAN)
_NOISE_CHARS = str.maketrans("", "", "\"'°€")
_SCI_SPACED_RE = re.compile(banks.SCIENTIFIC_SPACED)
_SCI_TIGHT_RE = re.compile(banks.SCIENTIFIC_TIGHT)

_MEANINGLESS = frozenset(banks.MEANINGLESS_LITERALS)
# F6 after the meaningless-filler tier: an ordered list of (test, result);
# a test is a literal set (membership) or a compiled regex (re.match).
_LT10_TIERS: tuple[tuple[frozenset[str] | re.Pattern[str], str], ...] = (
    (frozenset(banks.LESS_THAN_10_LITERALS), "<10"),
    (re.compile(r"<\s*10[\?\-\)]+$"), "<10"),
    (re.compile(r"<\s*[czsCZS]ion", re.IGNORECASE), "<10"),
    (re.compile(r"\d$"), "<10"),
    (re.compile(r"<\s*10[\^]?2,?$"), "<10^2"),
    (re.compile(r"<\s*10\s+2$"), "<10^2"),
    (frozenset(banks.LT10E2_LITERALS), "<10^2"),
    (re.compile(r"[SC]I0?2,?$", re.IGNORECASE), "<10^2"),
    (re.compile(r"[5C6]/0?2$"), "<10^2"),
    (re.compile(r"\(\s*10?2,?$"), "<10^2"),
    (re.compile(r"[SC]I0?2\s+2$", re.IGNORECASE), "<10^2"),
    (re.compile(r"\d+[45]102$"), "<10^2"),
    (frozenset(banks.LT10_TIER3_LITERALS), "<10"),
    (re.compile(r"\d+\s*<\s*10"), "<10"),
    (frozenset({"103"}), "<10^3"),
    (re.compile(r"<\s*10\s*[\"'\s\?\-\)]*$"), "<10"),
)
_CLEAR_LT10 = frozenset(
    p for pat in banks.CLEAR_LT10_ORIGINALS for p in (pat, pat.replace(" ", ""))
)


def _fix_less_than_10(v: str) -> str:
    """F6 over a noise-stripped value: first matching tier wins."""
    v = v.strip()
    if v in _MEANINGLESS:
        return ""
    for test, result in _LT10_TIERS:
        if v in test if isinstance(test, frozenset) else test.match(v):
            return result
    return v


def _normalize_scientific(v: str) -> str:
    """F7: X/x → ×, then 'b × 10 e' → 'b×10^e' keeping a leading < or ≤."""
    if not v:
        return v
    v = v.strip().replace("X", "×").replace("x", "×")
    prefix = v[0] if v[:1] in ("<", "≤") else ""
    m = _SCI_SPACED_RE.search(v)
    if m:
        return f"{prefix}{m.group(1)}×10^{m.group(2) or '0'}"
    m = _SCI_TIGHT_RE.search(v)
    if m:
        return f"{prefix}{m.group(1)}×10^{m.group(2)}"
    return v


# Cell values repeat across pages (~3.4k distinct (value, day) pairs in 59k
# cleans over 2,000 fixture pages); the bounded memo halves the kernel's
# per-page cost (364 → 202 µs in-process). Keys and results are short str.
@functools.lru_cache(maxsize=4096)
def _clean_cfu(value: str, day: str) -> str:
    """F4→F5→(F6→)F7(→F11) for one CFU cell; ``day`` ∈ {'0','7','14','28'}:
    day 0 skips the `<10` bank, day 7 re-reads the raw value for the F11
    ambiguity rule. An empty value cleans to ''."""
    if not value:
        return ""
    # F4 — a merged cell keeps its first value
    v = value
    sci = _MERGED_SCI_RE.findall(v)
    if len(sci) >= 2:
        v = sci[0]
    else:
        lt = _MERGED_LT_RE.findall(v)
        if len(lt) >= 2:
            v = lt[0]
    # F5 — noise strip; only '\n' becomes a space
    v = (
        v.replace(":selected:", "").replace(":unselected:", "")
        .translate(_NOISE_CHARS).replace("\n", " ").strip()
    )
    if day == "0":
        return _normalize_scientific(v)
    v = _normalize_scientific(_fix_less_than_10(v))
    if day == "7" and v == "<10":
        # F11 — a `<10` read from an ambiguous original means `<10^2`
        orig = value.strip()
        if orig not in _CLEAR_LT10 and any(p in orig for p in banks.AMBIGUOUS_LT10_ORIGINALS):
            return "<10^2"
    return v


# ---------------------------------------------------------------------------
# F12 / F13 / F1–F3 — strain, judgment and bulk-name IDs
# ---------------------------------------------------------------------------

_STRAIN_SYNONYMS_LOWER = tuple((syn.lower(), canon) for syn, canon in banks.STRAIN_SYNONYMS)


def _normalize_strain(strain: str) -> str:
    """F12 Azure variant: first synonym contained in the value; '' on miss."""
    low = strain.lower()
    for syn, canon in _STRAIN_SYNONYMS_LOWER:
        if syn in low:
            return canon
    return ""


def _judgment(value: str) -> str:
    """F13 Azure variant: any fail char (after upper-casing) → 부적합."""
    if not value:
        return "적합"
    v = value.strip().upper()
    if "부적합" in v or any(c in v for c in banks.JUDGMENT_FAIL_CHARS):
        return "부적합"
    return "적합"


_BULK_SUBS = tuple(
    (re.compile(p), r)
    for p, r in ((r"-\s+", "-"), (r"\s+-", "-"), (r"-+", "-"), (r"\s+", " "))
)
_TEST_ROW_RES = tuple(re.compile(p) for p in banks.TEST_NUMBER_ROW_PATTERNS)
_PRESC_ROW_RES = tuple(re.compile(p) for p in banks.PRESCRIPTION_ROW_PATTERNS)
_TEST_I_REPAIR_RE = re.compile(r"([A-Z])(\d{2})1(\d{2})")
_BAR_BANG_TO_I = str.maketrans("!|", "II")


def _extract_ids(bulk: str) -> tuple[str, str]:
    """F1→F3/F2: (test#, prescription#) of one bulk-name cell, '' when
    absent. The first matching pattern of each bank wins."""
    t = bulk.upper().translate(_BAR_BANG_TO_I)
    for pat, rep in _BULK_SUBS:
        t = pat.sub(rep, t)
    test = ""
    for pat in _TEST_ROW_RES:
        m = pat.search(t)
        if m:
            test = _TEST_I_REPAIR_RE.sub(r"\1\2I\3", m.group(1)).translate(_BAR_BANG_TO_I)
            break
    presc = ""
    for pat in _PRESC_ROW_RES:
        m = pat.search(t)
        if m:
            presc = m.group(1).strip()
            break
    return test, presc


# ---------------------------------------------------------------------------
# F18/F19 — page dates
# ---------------------------------------------------------------------------

_DATE_CELL_FIX_RE = re.compile(r"^(\d)\.(\d)\s+(\d{1,2})$")
_DATE_CELL_RES = (
    re.compile(r"^(\d{1,2})[/\-.](\d{1,2})$"),
    re.compile(r"^(\d{1,2})\s+(\d{1,2})$"),
)


def _date_cell(value: str) -> tuple[str, str] | None:
    """(month, day) strings of an 'MM/DD'-like cell after the F18 repair
    ('0.5 15' → '05 15'), else None."""
    v = _DATE_CELL_FIX_RE.sub(r"\1\2 \3", value.strip())
    for pat in _DATE_CELL_RES:
        m = pat.match(v)
        if m:
            return m.group(1), m.group(2)
    return None


def _date_info(grid: Grid) -> dict[str, str]:
    """F19 over the first ``min(5, len(grid))`` row indices. Pass 1: the
    first row with ≥4 date cells (column order) gives the four dates,
    zero-padded. Pass 2: the first date cell that is a calendar date in
    2024 gives the F17 +7/+14/+28 ladder; a cell that is not (13/40) falls
    through to the next. {} when neither pass finds one."""
    rows = [grid[r] for r in range(min(5, len(grid))) if r in grid]
    for row in rows:
        dates = [d for c in sorted(row) if (d := _date_cell(row[c]))]
        if len(dates) >= 4:
            return {
                k: f"{m.zfill(2)}/{d.zfill(2)}"
                for k, (m, d) in zip(spanspec.DATE_KEYS, dates)
            }
    for row in rows:
        for value in row.values():
            md = _date_cell(value)
            if md is None:
                continue
            try:
                d0 = date(2024, int(md[0]), int(md[1]))
            except ValueError:
                continue
            return {
                k: (d0 + timedelta(days=n)).strftime("%m/%d")
                for k, n in zip(spanspec.DATE_KEYS, (0, 7, 14, 28))
            }
    return {}


# ---------------------------------------------------------------------------
# W8 / A7 — header row and column map
# ---------------------------------------------------------------------------


def _row_has(row: dict[int, str], keywords: list[str]) -> bool:
    text = " ".join(row.values()).upper()
    return any(k in text for k in keywords)


def _header_row(grid: Grid) -> int | None:
    """W8: a tier-1 keyword row among the first ``min(5, len(grid))`` row
    indices; else the first strain-keyword row among ``min(15, len(grid))``
    — -1 (headerless: data starts at row 0) when one of its cells already
    holds a CFU value; None when the page has neither."""
    n = len(grid)
    for r in range(min(5, n)):
        if r in grid and _row_has(grid[r], banks.HEADER_KEYWORDS):
            return r
    for r in range(min(15, n)):
        if r in grid and _row_has(grid[r], banks.HEADER_STRAIN_KEYWORDS):
            for v in grid[r].values():
                vs = v.strip()
                if _CFU_VALUE_RE.search(vs) or _LONG_NUMBER_RE.match(vs):
                    return -1
            return r
    return None


def _day_base(v: str, vu: str) -> bool:
    return "일" in v or "DAY" in vu or "CFU" in vu


def _columns(grid: Grid, hdr: int) -> dict[str, int]:
    """Column map from header row ``hdr`` (cell order; a later match wins
    except for the first plain judgment column); A7 votes the column right
    of the strain column a specification when ≥3 of the first 5 data rows
    that have it hold a spec-like value; unmapped CFU/judgment columns follow
    the strain (or specification) column in order. Empty without a strain
    column."""
    cmap: dict[str, int] = {}
    for c, v in grid.get(hdr, {}).items():
        vu = v.upper().strip()
        if "균주" in v or "STRAIN" in vu or "E.COLI" in vu or "ORGANISM" in vu:
            cmap["strain"] = c
        if "SPECIFICATION" in vu or "SPEC" in vu:
            cmap["spec"] = c
        if "0" in v and (_day_base(v, vu) or "접종" in v):
            cmap["cfu_0day"] = c
        elif "7" in v and _day_base(v, vu):
            cmap["cfu_7day"] = c
        elif "14" in v and _day_base(v, vu):
            cmap["cfu_14day"] = c
        elif "28" in v and _day_base(v, vu):
            cmap["cfu_28day"] = c
        if "판정" in v or "JUDGMENT" in vu:
            if "최종" in v or "FINAL" in vu:
                cmap["final_judgment"] = c
            else:
                cmap.setdefault("judgment", c)
    strain = cmap.get("strain")
    if strain is None:
        return {}
    spec = cmap.get("spec", -1)
    if spec == -1:
        votes = checked = 0
        for r in sorted(grid):
            if r <= hdr or strain + 1 not in grid[r]:
                continue
            if checked >= 5:
                break
            votes += bool(_SPEC_VALUE_RE.match(grid[r][strain + 1].strip()))
            checked += 1
        if votes >= 3:
            spec = strain + 1
    start = spec + 1 if spec > strain else strain + 1
    for i, key in enumerate(
        ("cfu_0day", "cfu_7day", "cfu_14day", "cfu_28day", "judgment", "final_judgment")
    ):
        cmap.setdefault(key, start + i)
    return cmap


# ---------------------------------------------------------------------------
# the page pass
# ---------------------------------------------------------------------------

_CFU_DAYS = (("cfu_0day", "0"), ("cfu_7day", "7"), ("cfu_14day", "14"), ("cfu_28day", "28"))


def _records(grid: Grid) -> list[dict[str, str]]:
    """Records of one page: rows after the header (from row 0 when
    headerless) up to row index ``len(grid) - 1``, test#/prescription#
    filled down from each row's bulk-name cell (col 0), kept when the strain
    cell exists and normalizes non-empty; then each run of equal test#s is
    stably sorted by canonical strain order (A2)."""
    hdr = _header_row(grid)
    if hdr is None:
        return []
    cmap = _columns(grid, max(hdr, 0))
    if not cmap:
        return []
    strain_col = cmap["strain"]
    out: list[dict[str, str]] = []
    test = presc = ""
    for r in range(hdr + 1, len(grid)):
        row = grid.get(r)
        if row is None:
            continue
        bulk = row.get(0, "").strip()
        if bulk:
            t, p = _extract_ids(bulk)
            test, presc = t or test, p or presc
        if strain_col not in row:
            continue
        strain = _normalize_strain(row[strain_col].strip())
        if not strain:
            continue
        rec = {"test_number": test, "prescription_number": presc, "strain": strain}
        for key, day in _CFU_DAYS:
            rec[key] = _clean_cfu(row.get(cmap[key], ""), day)
        rec["judgment"] = _judgment(row.get(cmap["judgment"], ""))
        final = row.get(cmap["final_judgment"], "")
        rec["final_judgment"] = _judgment(final) if final else ""
        out.append(rec)

    # A2 — each run of equal test#s, stably sorted by canonical strain order
    return [
        rec
        for _, run in itertools.groupby(out, key=itemgetter("test_number"))
        for rec in sorted(run, key=lambda rec: banks.STRAIN_ORDER.get(rec["strain"], 999))
    ]


def _grid_of(cells) -> Grid:
    """``(row, col, text)`` cells → {row: {col: text}} in cell order."""
    grid: Grid = {}
    for r, c, t in cells:
        grid.setdefault(r, {})[c] = t
    return grid


def extract_page(cells) -> tuple[dict[str, str], list[dict[str, str]]]:
    """One decoded page → (date_info, records); date_info is {} when the
    page carries no date."""
    grid = _grid_of(cells)
    return _date_info(grid), _records(grid)


def page_text(cells) -> str:
    """One decoded page → its ``table`` span text (spanspec.serialize_table)."""
    return spanspec.serialize_table(*extract_page(cells))
