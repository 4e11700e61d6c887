"""Parity tests: Catalyst cleaner expressions vs the pure-Python oracle.

The oracle (micro_lab_ocr_spark.oracle.cleaners) is the executable spec of the
reference's banks; every Column expression must agree value-for-value on a
corpus harvested from the reference's misread banks and run logs (FIXTURES.md).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from micro_lab_ocr_spark import banks
from micro_lab_ocr_spark.functions import cleaners as C
from micro_lab_ocr_spark.oracle import cleaners as O

# -- corpus of noisy CFU values: every literal in the banks + regex-tier and
#    log-observed examples + clean values + adversarial edge cases ----------
CFU_CORPUS = (
    banks.LESS_THAN_10_LITERALS
    + banks.LT10E2_LITERALS
    + banks.LT10_TIER3_LITERALS
    + banks.MEANINGLESS_LITERALS
    + [
        "5.5×10^5", "5.5X105", "7.0X102 1.0 ×103", "6.0 × 10", "<6.1 × 100",
        "<10", "< 10", '<10"', "< 10'", "<102", "< 102", "<10^2", "< 10 2",
        "<10?", "<10-", "<10)", "< cion", "<Zion", "1", "2", "9", "00",
        "103", "110", "2 <10", "3 <10", "SI02,", "SI02 2", "(102", "( 102",
        "(12", "45102", "34102", "5/02", "5/2", "C/02", "6/02",
        ":selected:40", '0 :selected:', "≤3", "≤3°", "≤ 3", "5.5 × 10 5",
        "1.0×103", "2.3e4", "hello", "", "  ", "<1>", "LU", "/10",
        "6.8×105", "9.9X10^9", "0.5×10", "€ 10", "L 10", "zion",
        "CIO2", "CI02", "cis2,", "CIS2,", "si02", "40°", "40€", "<1.2",
        "512", "510", "90", "410", "4102 ", " 40 ", "Multi <10 < 10\"",
        "행", "균주", "5.5×10^5 6.6×10^6",
        'CIÒ"', "<6.1 × 100 x", "8.7X105", "5.1×105", "(10", "C102",
        # \r-bearing forms: the reference strips only '\n' mid-string but its
        # final str.strip() eats \r\t at the ENDS — all three impls must agree
        "5.5\rX105", "<10\r", "\r2.0\n×102\r", "\t<10\t", "a\rb",
    ]
)

DAYS = ["0", "7", "14", "28"]


@pytest.fixture(scope="module")
def cfu_df(spark):
    rows = [(v,) for v in CFU_CORPUS]
    return spark.createDataFrame(rows, "value string").cache()


def _collect_map(df, incol, outcol):
    return {r[incol]: r[outcol] for r in df.collect()}


def _clean_all_days(df):
    """One staged clean over ``value`` with every day as an output
    (``cfu_<day>``) — the shape the grid extraction runs."""
    return C.clean_cfu_staged(
        df, {"v": F.col("value")}, [("v", day, f"cfu_{day}") for day in DAYS]
    )


def test_clean_cfu_value_parity(spark, cfu_df):
    rows = _clean_all_days(cfu_df).collect()
    assert len(rows) == len(CFU_CORPUS)
    for r in rows:
        v = r["value"]
        for day in DAYS:
            got, expected = r[f"cfu_{day}"], O.clean_cfu_value(v, day)
            assert got == expected, f"day={day} value={v!r}: spark={got!r} oracle={expected!r}"


def test_fix_less_than_10_parity(spark, cfu_df):
    got = _collect_map(
        cfu_df.withColumn("out", C.fix_less_than_10(F.col("value"))), "value", "out"
    )
    for v in CFU_CORPUS:
        assert got[v] == O.fix_less_than_10(v), f"{v!r}: {got[v]!r} != {O.fix_less_than_10(v)!r}"


def test_normalize_scientific_parity(spark, cfu_df):
    got = _collect_map(
        cfu_df.withColumn("out", C.normalize_scientific(F.col("value"))), "value", "out"
    )
    for v in CFU_CORPUS:
        assert got[v] == O.normalize_scientific(v), f"{v!r}"


def test_split_merged_cells_parity(spark, cfu_df):
    got = _collect_map(
        cfu_df.withColumn("out", C.split_merged_cells(F.col("value"))), "value", "out"
    )
    for v in CFU_CORPUS:
        assert got[v] == O.split_merged_cells(v), f"{v!r}"


def test_remove_noise_parity(spark, cfu_df):
    got = _collect_map(cfu_df.withColumn("out", C.remove_noise(F.col("value"))), "value", "out")
    for v in CFU_CORPUS:
        assert got[v] == O.remove_noise(v), f"{v!r}"


def test_convert_to_log_parity(spark):
    vals = ["5.5×10^5", "<10", "<10^2", "<10^3", "1000", "100", "", "abc", "9.9×10^9", "1.0×10^0"]
    df = spark.createDataFrame([(v,) for v in vals], "value string")
    got = _collect_map(df.withColumn("out", C.convert_to_log(F.col("value"))), "value", "out")
    for v in vals:
        expected = O.convert_to_log(v)
        expected_s = str(expected)
        assert got[v] == expected_s, f"{v!r}: {got[v]!r} != {expected_s!r}"


# -- known-answer tests straight from the reference's run logs ---------------
LOG_KNOWN_ANSWERS = [
    # (raw, day, expected) — observed corrections in logs/preservation_ocr_*.log
    ("5.5X105", "0", "5.5×10^5"),
    ("40", "7", "<10^2"),          # 7-day ambiguity upgrades the 40 misread
    ("40", "14", "<10"),
    ("40", "28", "<10"),
    ("7.0X102 1.0 ×103", "0", "7.0×10^2"),
    ("110", "14", "<10"),
    ("<1>", "14", "<10"),
    ("103", "14", "<10^3"),
    ("< 10", "7", "<10"),          # clear <10 stays <10 on day 7
    ("CIO", "7", "<10^2"),
    ("CIO", "14", "<10"),
    ('< 10"', "7", "<10"),
    ("4102", "7", "<10^2"),
    (":selected:", "7", ""),
    # harvested from logs/*.log correction lines (day context inferred)
    ('CIÒ"', "7", "<10^2"),
    ("<6.1 × 100 x", "0", "<6.1×10^0"),
    ("410", "7", "<10^2"),
    ("410", "14", "<10"),
    ("510", "14", "<10"),
    ("(10", "14", "<10"),
    ("C102", "7", "<10^2"),
    ("8.7X105", "0", "8.7×10^5"),
    ("40€", "7", "<10^2"),
    ("5.1×105", "0", "5.1×10^5"),
]


def test_log_known_answers(spark):
    df = spark.createDataFrame([(r, d) for r, d, _ in LOG_KNOWN_ANSWERS], "value string, day string")
    got = {(r["value"], r["day"]): r[f"cfu_{r['day']}"] for r in _clean_all_days(df).collect()}
    for raw, day, expected in LOG_KNOWN_ANSWERS:
        assert got[(raw, day)] == expected, f"({raw!r}, day {day})"
        assert O.clean_cfu_value(raw, day) == expected


# -- strain / judgment / ids -------------------------------------------------

STRAIN_CORPUS = [
    "E.coli", "Escherichia coli", "E. coli", "escherichia", "P.aeruginosa",
    "Pseudomonas aeruginosa", "Pseudomonas", "S.aureus", "Staphylococcus aureus",
    "C.albicans", "Candida albicans", "Candida", "A.brasiliensis",
    "Aspergillus brasiliensis", "Aspergillus", "unknown bug", "E.COLI", "  ",
]


def test_normalize_strain_parity(spark):
    df = spark.createDataFrame([(v,) for v in STRAIN_CORPUS], "value string")
    for passthrough in (False, True):
        got = _collect_map(
            df.withColumn("out", C.normalize_strain(F.col("value"), passthrough)), "value", "out"
        )
        for v in STRAIN_CORPUS:
            assert got[v] == O.normalize_strain(v, passthrough), f"{v!r} pt={passthrough}"


def test_judgment_parity(spark):
    vals = ["", "0", "X", "×", "V", "v", "0 :selected:", "부적합", "적합", "PASS", "x"]
    df = spark.createDataFrame([(v,) for v in vals], "value string")
    got = _collect_map(df.withColumn("out", C.extract_judgment(F.col("value"))), "value", "out")
    for v in vals:
        assert got[v] == O.extract_judgment(v), f"{v!r}"


BULK_CORPUS = [
    "어린이버블클렌저 GB1919-ZMB 25E15I14",
    "수분크림 CCA21201-VAA 25E15114",          # I→1 misread
    "선크림 LAF0947-OZ2A 25A15|14",             # |→I
    "에센스 CC2132-AZLY1 25B20I02",
    "토너 WC1820-11F 25C11I07",
    "크림 GB1919- ZMB 25E15I14",                 # dash-space
    "크림 GB1919 - ZMB",                          # space-dash-space
    "노이즈!만 있는 셀",
    "두제품 GB1919-ZMB 25E15I14 CCA21201-VAA 25E16I15",
    "",
]


def test_extract_test_info_parity(spark):
    df = spark.createDataFrame([(v,) for v in BULK_CORPUS], "value string")
    out = C.extract_ids_staged(df, F.col("value"), "test", "presc").collect()
    assert len(out) == len(BULK_CORPUS)
    for r in out:
        exp_t, exp_p = O.extract_test_info_from_row(r["value"])
        assert r["test"] == exp_t, f"{r['value']!r}: test {r['test']!r} != {exp_t!r}"
        assert r["presc"] == exp_p, f"{r['value']!r}: presc {r['presc']!r} != {exp_p!r}"


def test_extract_multiple_parity():
    """The Upstage kernel's multi-ID extraction (run by parse_page_records)
    vs the oracle's, on every bulk cell."""
    from micro_lab_ocr_spark.kernels import upstage as uk

    for v in BULK_CORPUS:
        assert uk.extract_ids(v) == O.extract_multiple_numbers(v), repr(v)


# -- dates --------------------------------------------------------------------


def test_consecutive_dates_parity(spark):
    vals = [
        "01 15 01 22 01 29 02 12",
        "05 15 05 22 05 29 06 12",
        "05 15 05 22",
        "1 15 01 22 01 29 02 12",
        "aa bb cc dd ee ff gg hh",
        "",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "value string")
    got = _collect_map(
        df.withColumn("out", C.parse_consecutive_dates(F.col("value"))), "value", "out"
    )
    for v in vals:
        assert list(got[v]) == O.parse_consecutive_dates(v), f"{v!r}"


def test_date_ladder_parity(spark):
    df = spark.createDataFrame([(5, 15), (1, 25), (12, 31), (2, 28)], "m int, d int")
    out = df.select("m", "d", C.date_ladder(F.col("m"), F.col("d")).alias("ladder")).collect()
    for r in out:
        exp = O.date_ladder(r["m"], r["d"])
        got = r["ladder"].asDict()
        assert got == exp, f"{r['m']}/{r['d']}: {got} != {exp}"


# -- property: cleaner idempotence (SURVEY §5.2(4)) ---------------------------


def test_cleaner_eventually_stable():
    """The reference cleaner is NOT strictly idempotent: its scientific
    normalizer re-parses its own canonical output ``a×10^e`` with the
    exponent-optional regex (``10\\s*(\\d*)`` matches empty before ``^``),
    mangling it to ``a×10^0`` on a second pass (`backend_preservation.py:1469`).
    Raw OCR cells never contain ``^`` so single-pass behavior is what the
    fixture pins; here we assert the faithful property: a fixpoint is reached
    after two applications, and non-scientific outputs are idempotent."""
    for v in CFU_CORPUS:
        for day in DAYS:
            once = O.clean_cfu_value(v, day)
            twice = O.clean_cfu_value(once, day)
            thrice = O.clean_cfu_value(twice, day)
            assert thrice == twice, f"not stable: {v!r} day {day}: {twice!r} -> {thrice!r}"
            if "×10^" not in once:
                assert twice == once, f"not idempotent: {v!r} day {day}: {once!r} -> {twice!r}"


def test_f16_parse_date_multi_parity(spark):
    """F16: Catalyst 9-format chain == strptime oracle (`backend.py:774-798`),
    including day-month fallbacks, the year-1900 Feb-29 quirk, and
    shape-matches-but-invalid-date fallthrough."""
    from pyspark.sql import functions as F

    from micro_lab_ocr_spark.functions import cleaners as C
    from micro_lab_ocr_spark.oracle import cleaners as oc

    cases = [
        "3 15", "03 15", "03-04", "12/31", "1.5", "12.25",
        "3월4일", "12월 25일", "1월1일",
        "15/03", "31-12", "13 1", "28 02",
        "02 29", "2/30", "31/04", "29 02",   # invalid dates → ''
        "30/04", "31/01",
        "00 10", "13 13", "asdf", "", "05 15 extra", "  ", "5  7",
        # non-ASCII Unicode digits: strptime's \d would accept these but the
        # Catalyst ASCII regexes don't — the oracle now rejects them too
        # (documented restriction, round-2 advisory)
        "٣ ٤", "３ ４", "٣/٤",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, v string")
    got = {
        r["i"]: r["p"]
        for r in df.select("i", C.parse_date_multi(F.col("v")).alias("p")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == oc.parse_date_multi(c), f"F16 mismatch on {c!r}: {got[i]}"
