"""Shared pattern vocabularies of the reference's cleaning banks.

Single source of truth consumed by the pure-Python oracle
(:mod:`micro_lab_ocr_spark.oracle`), the Catalyst Column expressions
(:mod:`micro_lab_ocr_spark.functions.cleaners`) and the production page
kernels (:mod:`micro_lab_ocr_spark.kernels.upstage`,
:mod:`micro_lab_ocr_spark.kernels.grid`), so the implementations cannot
drift. The W8/A7 vocabularies and the *_ROW_PATTERNS have engine consumers
only; the oracle keeps its own copies of those. Every constant cites the
reference behavior it restates (semantics only — no code is copied; see
SURVEY.md §2.7).

Reference citations:
  * LESS_THAN_10_LITERALS .. LT10_*      — `backend_preservation.py:1278-1440` (F6)
  * PRESCRIPTION_PATTERNS                — `backend.py:450-466` (F2)
  * TEST_NUMBER grammar + repairs        — `backend.py:473-505` (F3)
  * *_ROW_PATTERNS (Azure bulk-name cell) — `backend_preservation.py:925-1007` (F2/F3)
  * HEADER_*_KEYWORDS / CFU / spec value  — `backend_preservation.py:737-923` (W8, A7)
  * STRAIN_SYNONYMS / STRAIN_ORDER       — `backend_preservation.py:1170-1203` (F12)
  * NOISE / merged-cell / scientific     — `backend_preservation.py:1205-1501` (F4/F5/F7)
  * judgment chars                       — `backend_preservation.py:1602-1613` (F13)
  * 7-day ambiguity                      — `backend_preservation.py:1545-1600` (F11)
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# F6 — the `<10` misread bank (`backend_preservation.py:1313-1339`).
# Literal equality, checked BEFORE the regex tiers; order inside the list is
# irrelevant (set membership) but the literal tier must precede regex tiers.
# ---------------------------------------------------------------------------
LESS_THAN_10_LITERALS: list[str] = [
    "40", "40°", "40€",
    "CIO", "CIÒ", "C10", "410", "90",
    "Lio", "LIO", "Clo", "CLO",
    "CO", "cio", "clo",
    "L10", "L 10", 'L10"', 'L 10"',
    "€10", "€ 10",
    "010", "(10)", "(10", "10)",
    "(1)", "(1", "1)",
    "2 <10",
    "LION", "LION,", "Lion", "lion",
    "zion", "Zion", "ZION",
    "40L", "10L",
    "400", "4100",
    "610",
    "Cle", "CLE", "Cia", "CIA",
    "CCO", "cco",
    "00",
    "COL", "Col",
    'clo"', "clo'",
]

# `backend_preservation.py:1307-1309` — meaningless filler → empty string.
MEANINGLESS_LITERALS: list[str] = ["...", "....", "…"]

# `<10^2` literal tiers (`backend_preservation.py:1377-1391`).
LT10E2_LITERALS: list[str] = [
    "4102", "5102", "6102", "512",          # `< → 4/5/6` misreads
    "<12", "<62", "<1.2",                   # dropped zero
    "GIO2", "GI02", "CIS2", "C12", "C102",  # `< → G/C`
    "CIO2", "Clo2", "CI02", "ClO2",         # `1 → I/l`
]

# `<10` literal tier 3 (`backend_preservation.py:1415-1421`).
LT10_TIER3_LITERALS: list[str] = ["110", "210", "2103", "510", "<1>", "LU", "/10"]

# ---------------------------------------------------------------------------
# F11 — 7-day ambiguity rule (`backend_preservation.py:1573-1591`).
# ---------------------------------------------------------------------------
CLEAR_LT10_ORIGINALS: list[str] = ['< 10', '<10', '< 10"', '<10"', "< 10'"]
AMBIGUOUS_LT10_ORIGINALS: list[str] = ["40", "40°", "40€", "CIO", "CIÒ", "C10", "410", "90"]

# ---------------------------------------------------------------------------
# F2 — prescription-number regex family (`backend.py:450-466`). Order = match
# precedence (first pattern producing a match wins for the single-extract
# variant; the multi variant concatenates all matches in pattern order).
# The patterns are word-bounded uppercase-letter/digit grammars.
# ---------------------------------------------------------------------------
PRESCRIPTION_PATTERNS: list[str] = [
    r"\b[A-Z]{2,4}\d{4,5}[A-Z]?-[A-Z]{1,4}\d?\b",
    r"\b[A-Z]{3}\d{5}-[A-Z]{2,4}\b",
    r"\bM-[A-Z]{2,4}\d{4,5}-[A-Z]{1,4}\d?\b",
    r"\b[A-Z]{2,4}\d{4,5}[A-Z]-[A-Z]{1,4}[A-Z]?\b",
    r"\b[A-Z]{3,6}\d{2,4}-[A-Z]{1,4}\b",
    r"\b[A-Z]{2,4}\d{3,6}-[A-Z]{1,5}\b",
    r"\b[A-Z]{2,5}\d{4}-[A-Z]{1,3}\d{0,2}\b",
    r"\b[A-Z]{1,3}\d{4,5}-[A-Z]{2,4}[A-Z]?\b",
    r"\b[A-Z]{2,4}\d{4}-[A-Z]\d[A-Z]{1,3}\b",
    r"\b[A-Z]{2,4}\d{3,4}[A-Z]?-[A-Z]{1,4}\d*\b",
    r"\b[A-Z]{2,4}\d{4,5}[A-Z]?-[A-Z]{1,5}\d?\b",
    r"\b[A-Z]{2,4}\d{4,5}[A-Z]?-\s*[A-Z]{1,5}\d?\b",
    r"\b[A-Z]{2,4}\d{4,5}[A-Z]?-[A-Z]{1,5}\d[A-Z]+\b",
    r"\b[A-Z]{2,4}\d{3,5}-[A-Z]{1,4}\d{1,2}\b",
    r"\b[A-Z]{2,5}\d{3,5}-[A-Z]{2,5}[A-Z\d]*\b",
]

# F3 — test-number grammar (`backend.py:477-505`).
TEST_NUMBER_CORRECT = r"\b(\d{2}[A-L]\d{2}I\d{2,3})\b"
TEST_NUMBER_I_AS_1 = r"\b(\d{2}[A-L]\d{2}1\d{2,3})\b"
TEST_NUMBER_MISSING_I = r"\b(\d{2}[A-L]\d{5,6})\b"
TEST_NUMBER_SPACED = r"(\d{2})([A-L])(\d)\s+(\d)(\d{2,3})"

# F3/F2 — Azure single-row variant over one bulk-name cell
# (`backend_preservation.py:925-1007`): the first matching pattern wins; the
# test# then gets its I/1 and |/! repairs.
TEST_NUMBER_ROW_PATTERNS: list[str] = [
    r"\b(2[0-9][A-Z]\d{2}[I!|1]\d{2})\b",
    r"\b(2[0-9][E]\d{2}1\d{2})\b",
]
PRESCRIPTION_ROW_PATTERNS: list[str] = [
    r"\b([A-Z]{2,4}\d{4,5}[A-Z]?-[A-Z]{1,5}\d?)\b",
    r"\b([A-Z]{3}\d{5}-[A-Z]{2,4})\b",
    r"\b(M-[A-Z]{2,4}\d{4,5}-[A-Z]{1,4}\d?)\b",
    r"\b([A-Z]{2,4}\d{3,6}-[A-Z]{1,5})\b",
    r"\b([A-Z]{2,5}\d{4}-[A-Z]{1,3}\d{0,2})\b",
    r"\b([A-Z]{1,3}\d{4,5}-[A-Z]{2,4}[A-Z]?)\b",
    r"\b([A-Z]{2,4}\d{4}-[A-Z]\d[A-Z]{1,3})\b",
    r"\b([A-Z]{2,4}\d{3,4}[A-Z]?-[A-Z]{1,4}\d*)\b",
    r"\b([A-Z]{2,4}\d{4}-\d{1,2}[A-Z]{1,2})\b",
    r"\b([A-Z]{2,4}\d{4,5}[A-Z]?-\s*[A-Z]{1,5}\d?)\b",
    r"\b([A-Z]{2,4}\d{4,5}[A-Z]?-\s*[A-Z]+\d+[A-Z]+)\b",
    r"\b([A-Z]{2,4}\d{4,5}[A-Z]?-[A-Z]{1,5}\d[A-Z]+)\b",
    r"\b([A-Z]{2,4}\d{3,5}-[A-Z]{1,4}\d{1,2})\b",
    r"\b([A-Z]{2,5}\d{3,5}-[A-Z]{2,5}[A-Z\d]*)\b",
]

# ---------------------------------------------------------------------------
# W8 — Azure header detection (`backend_preservation.py:737-806`), matched
# against a row's upper-cased cell text: a tier-1 keyword within the first 5
# rows is the header; else the first strain-keyword row within 15, which is
# the headerless sentinel (-1) when one of its cells already holds a CFU
# value. A7 (`backend_preservation.py:808-923`): a cell right of the strain
# column that looks like a specification votes that column as one.
# ---------------------------------------------------------------------------
HEADER_KEYWORDS: list[str] = ["CHALLENGED ORGANISM", "BULK NAME", "SPECIFICATION"]
HEADER_STRAIN_KEYWORDS: list[str] = [
    "E.COLI", "ESCHERICHIA", "P.AERUGINOSA", "PSEUDOMONAS",
    "S.AUREUS", "STAPHYLOCOCCUS", "C.ALBICANS", "CANDIDA",
    "A.BRASILIENSIS", "ASPERGILLUS", "균주", "STRAIN",
]
CFU_VALUE_PATTERN = r"\d+\.?\d*\s*[×xX]\s*10[\^]?\d+"
SPEC_VALUE_PATTERN = r"^(≤[0-9]+[°cC]?|[0-9]{1,2}[°cC]?|SI)$"

# ---------------------------------------------------------------------------
# F12 — strain synonym map. Insertion order = match precedence (the reference
# iterates dict items with a substring check; short names first per group).
# The Azure engine returns '' on miss (records dropped); the Upstage engine
# passes the raw value through — both behaviors are exposed.
# ---------------------------------------------------------------------------
STRAIN_SYNONYMS: list[tuple[str, str]] = [
    ("E.coli", "E.coli"),
    ("Escherichia coli", "E.coli"),
    ("E. coli", "E.coli"),
    ("Escherichia", "E.coli"),
    ("P.aeruginosa", "P.aeruginosa"),
    ("Pseudomonas aeruginosa", "P.aeruginosa"),
    ("P. aeruginosa", "P.aeruginosa"),
    ("Pseudomonas", "P.aeruginosa"),
    ("S.aureus", "S.aureus"),
    ("Staphylococcus aureus", "S.aureus"),
    ("S. aureus", "S.aureus"),
    ("Staphylococcus", "S.aureus"),
    ("C.albicans", "C.albicans"),
    ("Candida albicans", "C.albicans"),
    ("C. albicans", "C.albicans"),
    ("Candida", "C.albicans"),
    ("A.brasiliensis", "A.brasiliensis"),
    ("Aspergillus brasiliensis", "A.brasiliensis"),
    ("A. brasiliensis", "A.brasiliensis"),
    ("Aspergillus", "A.brasiliensis"),
]

STRAINS: list[str] = ["E.coli", "P.aeruginosa", "S.aureus", "C.albicans", "A.brasiliensis"]
STRAIN_ORDER: dict[str, int] = {s: i for i, s in enumerate(STRAINS)}

# Upstage engine's synonym map (`backend.py:630-635`) — NO genus-only entries
# and passthrough-on-miss, unlike the Azure map above.
UPSTAGE_STRAIN_SYNONYMS: list[tuple[str, str]] = [
    (syn, canon) for syn, canon in STRAIN_SYNONYMS
    if syn not in ("Escherichia", "Pseudomonas", "Staphylococcus", "Candida", "Aspergillus")
]

# Upstage row-validity keyword filter (`backend.py:392`).
VALID_STRAIN_KEYWORDS: list[str] = STRAINS + [
    "Escherichia", "Pseudomonas", "Staphylococcus", "Candida", "Aspergillus"
]

# F13 — judgment decode: any of these chars → 부적합 (fail), else 적합 (pass).
# Azure variant upper-cases first (`backend_preservation.py:1607`); Upstage
# checks the raw value and includes lowercase 'v' (`backend.py:721`).
JUDGMENT_FAIL_CHARS = ["X", "×", "V"]
JUDGMENT_FAIL_CHARS_UPSTAGE = ["X", "×", "v", "V"]

# F4 — merged-cell detection patterns (`backend_preservation.py:1227,1236`).
MERGED_SCIENTIFIC = r"(\d+\.?\d*[×xX]10[\^]?\d+)"
MERGED_LESS_THAN = r"<\s*\d+"

# F7 — scientific normalize patterns (`backend_preservation.py:1469,1486`),
# applied AFTER X/x→× substitution.
SCIENTIFIC_SPACED = r"(\d+\.?\d*)\s*[×]\s*10\s*(\d*)"
SCIENTIFIC_TIGHT = r"(\d+\.?\d*)[×]10(\d+)"

# ---------------------------------------------------------------------------
# F16 — multi-format date parse (`backend.py:774-798`): the 9 strptime
# formats tried in order (month-day forms first, then day-month). Each entry
# is (anchored regex, group order) where the regex restates the strptime
# token classes: %m = 1-12 (optional leading zero), %d = 1-31, whitespace in
# the format matches a whitespace run. Year stays at strptime's implicit
# 1900 (non-leap) — so '02 29' parses in NO format.
# ---------------------------------------------------------------------------
_F16_M = r"(1[0-2]|0[1-9]|[1-9])"
_F16_D = r"(3[01]|[12][0-9]|0[1-9]|[1-9])"
DATE_FORMATS: list[tuple[str, str]] = [
    (rf"^{_F16_M}\s+{_F16_D}$", "md"),      # '%m %d'
    (rf"^{_F16_M}-{_F16_D}$", "md"),        # '%m-%d'
    (rf"^{_F16_M}/{_F16_D}$", "md"),        # '%m/%d'
    (rf"^{_F16_M}\.{_F16_D}$", "md"),       # '%m.%d'
    (rf"^{_F16_M}월{_F16_D}일$", "md"),     # '%m월%d일'
    (rf"^{_F16_M}월\s+{_F16_D}일$", "md"),  # '%m월 %d일'
    (rf"^{_F16_D}/{_F16_M}$", "dm"),        # '%d/%m'
    (rf"^{_F16_D}-{_F16_M}$", "dm"),        # '%d-%m'
    (rf"^{_F16_D}\s+{_F16_M}$", "dm"),      # '%d %m'
]
# day-count per month in year 1900 (strptime default year; NOT a leap year)
DAYS_IN_MONTH_1900: dict[int, int] = {
    1: 31, 2: 28, 3: 31, 4: 30, 5: 31, 6: 30,
    7: 31, 8: 31, 9: 30, 10: 31, 11: 30, 12: 31,
}
