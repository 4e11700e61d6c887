"""Production Upstage-engine page parser (:func:`parse_page` runs inside the
extraction row kernel, pipeline/extract._span_rows, and the records query,
queries._flagship_records).

Re-creates the reference's HTML-table record extraction (`backend.py:312-426`
row walk, `backend.py:115-171` FIFO fallback, `backend.py:648-739` clean
chain, `backend.py:259-310` date header) over the rows produced by
kernels.html.parse_first_table. Shares only the pattern vocabularies with the
rest of the engine via :mod:`micro_lab_ocr_spark.banks`; the independent
executable spec lives in :mod:`micro_lab_ocr_spark.oracle` and the golden
span-sequence tests referee the two (SURVEY §5.2) — this module deliberately
does NOT import from oracle/.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta

from micro_lab_ocr_spark import banks, spanspec
from micro_lab_ocr_spark.kernels import html as hk

# hard-coded column layouts (`backend.py:371,377`)
_COLS_WITH_BULK = (3, 4, 5, 6, 7, 8)   # cfu0, cfu7, cfu14, cfu28, judg, final
_COLS_NO_BULK = (2, 3, 4, 5, 6, 7)

_CJK_RE = re.compile(r"[ぁ-んァ-ン一-龯]+")
_SCI_RE = re.compile(r"([0-9.]+)\s*[×xX]\s*10\s*\^?([0-9]+)")
_LT_POW_RE = re.compile(r"<\s*10\s*\^?\s*([0-9]+)")
_LT_NUM_RE = re.compile(r"<\s*([0-9]+)")
_LE_NUM_RE = re.compile(r"≤\s*([0-9]+)")
_SPEC_PRESERVE_RE = re.compile(r"^≤\d+[°⁰]?$", re.IGNORECASE)
_F10_TARGET_STRAINS = ("E.coli", "P.aeruginosa", "S.aureus", "C.albicans")
_POWER_CHARS = ("^", "²", "⁰", "¹", "³")

_DATE_FORMATS = (
    "%m %d", "%m-%d", "%m/%d", "%m.%d",
    "%m월%d일", "%m월 %d일",
    "%d/%m", "%d-%m", "%d %m",
)


# ---------------------------------------------------------------------------
# scalar chain (F8/F9/F10, F12/F13 Upstage variants)
# ---------------------------------------------------------------------------


def clean_cfu(value: str, strain: str, day: str) -> str:
    """F8→F9→F10 chain (`backend.py:648-713`); day ∈ {'0','7','14','28'}."""
    if not value:
        return ""
    original = value
    v = _CJK_RE.sub("", value)
    v = v.replace("く", "<").replace("C", "<").replace("O", "0")
    v = v.replace("Co", "0").replace("CIO", "<10").replace("C10", "<10")
    v = v.strip()

    if re.search(r"[×xX]", v):
        m = _SCI_RE.match(v)
        if m:
            return f"{m.group(1)}×10^{m.group(2)}"
    if "<" in v:
        m = _LT_POW_RE.search(v)
        if m:
            return f"<10^{m.group(1)}"
        m = _LT_NUM_RE.search(v)
        if m:
            return f"<{m.group(1)}"
        return "<10"
    if "≤" in v:
        m = _LE_NUM_RE.search(v)
        if m:
            return f"≤{m.group(1)}"

    if day in ("7", "14", "28") and strain and any(s in strain for s in _F10_TARGET_STRAINS):
        if _SPEC_PRESERVE_RE.match(v):
            return v
        if len(original) >= 6:
            return v
        if day != "28" and "2" in original and any(c in original for c in _POWER_CHARS):
            return "<10^2"
        return "<10^2" if day == "7" else "<10"
    return v


def normalize_strain(strain: str) -> str:
    """F12 Upstage variant (`backend.py:627-646`): exact pass, then substring
    pass, passthrough on miss."""
    low = strain.lower()
    table = banks.UPSTAGE_STRAIN_SYNONYMS
    for syn, canon in table:
        if low == syn.lower():
            return canon
    for syn, canon in table:
        if syn.lower() in low:
            return canon
    return strain


def judgment(value: str) -> str:
    """F13 Upstage variant (`backend.py:715-739`)."""
    for ch in banks.JUDGMENT_FAIL_CHARS_UPSTAGE:
        if ch in value:
            return "부적합"
    return "적합"


# ---------------------------------------------------------------------------
# bulk-name multi-extraction + positional pairing (F2/F3 multi, J2)
# ---------------------------------------------------------------------------


def extract_ids(bulk: str) -> tuple[list[str], list[str]]:
    """All test#s / prescription#s in one bulk cell (`backend.py:518-582`),
    first-seen order, I-repair on the post-letter digit run."""
    t = re.sub(r"\s+", " ", re.sub(r"-\s+", "-", bulk.upper().replace("!", "I")))
    tests: list[str] = []
    for pat in (banks.TEST_NUMBER_CORRECT, banks.TEST_NUMBER_I_AS_1):
        for m in re.findall(pat, t):
            tests.append(m[:5] + "I" + m[6:] if "1" in m[5:7] else m)
    prescs: list[str] = []
    for pat in banks.PRESCRIPTION_PATTERNS:
        prescs.extend(re.findall(pat, t))
    return list(dict.fromkeys(tests)), list(dict.fromkeys(prescs))


def zip_pairs(tests: list[str], prescs: list[str]) -> list[tuple[str | None, str | None]]:
    """J2 (`backend.py:584-625`): i-th test with i-th prescription; the
    longer side's surplus pairs with None."""
    n = max(len(tests), len(prescs))
    return [
        (tests[i] if i < len(tests) else None, prescs[i] if i < len(prescs) else None)
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# dates (F15/F16/F17 Upstage variants)
# ---------------------------------------------------------------------------


def consecutive_dates(text: str) -> list[str]:
    """F15 (`backend.py:741-772`)."""
    parts = text.split()
    if len(parts) < 8 or not all(p.isdigit() and len(p) == 2 for p in parts):
        return []
    return [f"{parts[i]}/{parts[i + 1]}" for i in range(0, 8, 2)]


def ladder_from_string(text: str) -> dict[str, str] | None:
    """F16+F17: 9-format strptime parse (`backend.py:774-798`) → +7/14/28-day
    ladder in strptime's implicit year 1900 (`backend.py:290-298`)."""
    d0 = None
    for fmt in _DATE_FORMATS:
        try:
            d0 = datetime.strptime(text, fmt)
            break
        except ValueError:
            continue
    if d0 is None:
        return None
    return {
        f"date_{n}": (d0 + timedelta(days=n)).strftime("%m/%d") for n in (0, 7, 14, 28)
    }


def date_header(rows) -> dict:
    """`backend.py:259-310`: row-1/cell-0 consecutive-dates, else single-date
    ladder; {} when neither parses (caller applies the W2 carry)."""
    if len(rows) >= 2 and len(rows[1]) >= 1:
        first = rows[1][0].text.strip()
        cons = consecutive_dates(first)
        if len(cons) >= 4:
            return dict(zip(("date_0", "date_7", "date_14", "date_28"), cons))
        ladder = ladder_from_string(first)
        if ladder:
            return ladder
    return {}


# ---------------------------------------------------------------------------
# page parser (W1/W3/W4/W5, P4/P5/P6, `backend.py:312-426`)
# ---------------------------------------------------------------------------


def get_fallback_data(
    queue: list[tuple[str | None, str | None]],
    current_test: str | None = None,
    current_presc: str | None = None,
) -> tuple[str | None, str | None]:
    """W3 — the FIFO's three pop regimes (`backend.py:137-163`), restated
    faithfully and mutating ``queue`` in place:

    * both empty → unconditional front pop (the ONLY regime the reference
      ever reaches: its single call site is ``get_fallback_data(None, None)``
      at `backend.py:386`, and this pipeline calls it the same way);
    * test empty only → scan for the first pair with a non-empty test, take
      its test, REMOVE that pair entirely (its prescription is discarded);
    * prescription empty only → symmetric.

    The partial-pop regimes are dead code at the reference's call site but
    are implemented and parity-tested so the operator inventory is complete
    (round-2 verdict item 8)."""
    if not current_test and not current_presc and queue:
        current_test, current_presc = queue.pop(0)
    elif not current_test and queue:
        for i, (ft, _fp) in enumerate(queue):
            if ft:
                current_test = ft
                queue.pop(i)
                break
    elif not current_presc and queue:
        for i, (_ft, fp) in enumerate(queue):
            if fp:
                current_presc = fp
                queue.pop(i)
                break
    return current_test, current_presc


def parse_page_records(rows) -> list[dict]:
    """rows: kernels.html.parse_first_table output → 9-field record dicts.

    Sequential page state (the FIFO fallback + fill-down keys) is row-order
    dependent and page-local — it lives in plain locals here; Spark sees only
    the batched Arrow boundary (SURVEY §4.3).
    """
    # W5 — dynamic data start: first row whose cell-0 has rowspan + >10 chars
    start = 2
    for i, row in enumerate(rows):
        if row and row[0].rowspan and len(row[0].text.strip()) > 10:
            start = i
            break

    queue: list[tuple[str | None, str | None]] = []   # W3 surplus FIFO
    ecoli_seen = 0                                      # W4
    cur_test: str | None = None                         # W1 fill-down keys
    cur_presc: str | None = None
    records: list[dict] = []

    for row in rows[start:]:
        if len(row) < 1:                                # P6
            continue
        has_bulk = bool(row[0].rowspan and row[0].text.strip())
        if has_bulk:
            tests, prescs = extract_ids(row[0].text.strip())
            if len(tests) > 1 or len(prescs) > 1:
                pairs = zip_pairs(tests, prescs)
                if pairs:
                    cur_test, cur_presc = pairs[0]
                    queue.extend(pairs[1:])
                else:
                    cur_test = tests[0] if tests else None
                    cur_presc = prescs[0] if prescs else None
            else:
                cur_test = tests[0] if tests else None
                cur_presc = prescs[0] if prescs else None
            if len(row) <= 1:
                continue
            strain_raw = row[1].text.strip()
            cols = _COLS_WITH_BULK
        else:
            strain_raw = row[0].text.strip()
            cols = _COLS_NO_BULK
            if "E.coli" in strain_raw or "Escherichia" in strain_raw:
                ecoli_seen += 1
                if ecoli_seen > 1 and queue:                # J3 pop
                    cur_test, cur_presc = get_fallback_data(queue, None, None)

        if not strain_raw or not any(k in strain_raw for k in banks.VALID_STRAIN_KEYWORDS):
            continue                                        # P4
        strain = normalize_strain(strain_raw)

        def cell(idx: int) -> str:
            return row[idx].text.strip() if len(row) > idx else ""

        rec = {
            "test_number": cur_test or "",
            "prescription_number": cur_presc or "",
            "strain": strain,
            "cfu_0day": clean_cfu(cell(cols[0]), strain, "0"),
            "cfu_7day": clean_cfu(cell(cols[1]), strain, "7"),
            "cfu_14day": clean_cfu(cell(cols[2]), strain, "14"),
            "cfu_28day": clean_cfu(cell(cols[3]), strain, "28"),
            "judgment": judgment(cell(cols[4])),
            "final_judgment": judgment(cell(cols[5])),
        }
        if any(rec[f].strip() for f in rec if f.startswith("cfu_")):   # P5
            records.append(rec)
    return records


def parse_page(html: str) -> tuple[str, bool, str | None]:
    """One ``table_html`` page → ``(lines, ok, own_date)``.

    ``lines``: the page's records, "|"-joined :data:`spanspec.RECORD_FIELDS`
    joined by "\\n" ("" when none). ``ok`` is False when the first table
    fails the min-row gate (`backend.py:235-238`); such a page neither
    carries nor consumes a date. ``own_date``: the page's own date header as
    "d0,d7,d14,d28", or None — the W2 carry across pages happens downstream.
    """
    rows = hk.parse_first_table(html)
    if not rows or len(rows) < 3:
        return "", False, None
    date_found = date_header(rows)
    lines = "\n".join(
        "|".join(str(r[f]) for f in spanspec.RECORD_FIELDS) for r in parse_page_records(rows)
    )
    own_date = ",".join(date_found[k] for k in spanspec.DATE_KEYS) if date_found else None
    return lines, True, own_date
