"""F1–F21 as Catalyst Column expressions (SURVEY.md §2.7).

Every bank here is built purely from ``pyspark.sql.functions`` — the
regex/CASE banks stay inside whole-stage codegen; the pure-Python oracle
(:mod:`micro_lab_ocr_spark.oracle.cleaners`) pins their behavior via
table-driven parity tests. Single banks are ``Column -> Column``. The two
hot chained banks, the CFU clean (:func:`clean_cfu_staged`) and the ID
extraction (:func:`extract_ids_staged`), are DataFrame-level staged
projections; the cold chains bind their stages with :func:`let`.

Java-vs-Python regex notes (validated by the parity tests):
  * Python ``re.match(p, v)`` ≡ Spark ``rlike('^' + p)``;
  * ``re.IGNORECASE`` ≡ inline ``(?i)``;
  * replacement backrefs: Python ``\\g<1>`` ≡ Java ``$1``;
  * Python3 ``\\b`` is Unicode-aware while Java's is ASCII — the ID grammars
    here are ASCII-delimited by whitespace in all observed inputs, so the two
    agree (parity-tested with CJK-adjacent fixtures).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from micro_lab_ocr_spark import banks

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _matches(col: Column, py_pattern: str, ignorecase: bool = False) -> Column:
    """Python ``re.match`` semantics (anchored at start)."""
    pat = ("(?i)" if ignorecase else "") + "^" + py_pattern.lstrip("^")
    return col.rlike(pat)


def let(col: Column, fn) -> Column:
    """Let-binding for Column expressions: evaluate ``col`` once, reference it
    many times inside ``fn`` as a lambda variable.

    Catalyst has no common-subexpression *tree* sharing across chained CASE
    banks — every reference to the input duplicates its whole subtree, which
    makes a chain like ``normalize(fix(noise(split(x))))`` exponential in plan
    size (observed: 34 MB serialized plans, minutes of codegen). Wrapping each
    stage in ``element_at(transform(array(col), fn), 1)`` binds the input to a
    higher-order-function variable — a barrier Catalyst keeps — so plan growth
    is linear. Runtime cost is one single-element array per stage, dwarfed by
    the regex work inside.
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def first_regexp_extract(col: Column, patterns: list[str], group: int = 0) -> Column:
    """First-pattern-wins extraction over an ordered regex bank (F2 chain).

    ``coalesce(nullif(regexp_extract(p1)), nullif(regexp_extract(p2)), …)`` —
    evaluation order is guaranteed by ``coalesce`` short-circuit semantics.
    """
    return F.coalesce(
        *[F.nullif(F.regexp_extract(col, p, group), F.lit("")) for p in patterns],
        F.lit(""),
    )


# ---------------------------------------------------------------------------
# F1 — bulk-name preprocess (`backend_preservation.py:944-950`)
# ---------------------------------------------------------------------------


def preprocess_bulk_name(col: Column) -> Column:
    c = F.upper(col)
    c = F.translate(c, "!|", "II")
    c = F.regexp_replace(c, r"-\s+", "-")
    c = F.regexp_replace(c, r"\s+-", "-")
    c = F.regexp_replace(c, r"-+", "-")
    c = F.regexp_replace(c, r"\s+", " ")
    return c


# ---------------------------------------------------------------------------
# F4 — merged-cell split (`backend_preservation.py:1205-1243`)
# ---------------------------------------------------------------------------


def split_merged_cells(col: Column) -> Column:
    sci_all = F.regexp_extract_all(col, F.lit(banks.MERGED_SCIENTIFIC), 1)
    lt_all = F.regexp_extract_all(col, F.lit(banks.MERGED_LESS_THAN), 0)
    return (
        F.when(col.isNull() | (col == ""), col)
        .when(F.size(sci_all) >= 2, F.element_at(sci_all, 1))
        .when(F.size(lt_all) >= 2, F.element_at(lt_all, 1))
        .otherwise(col)
    )


# ---------------------------------------------------------------------------
# F5 — noise strip (`backend_preservation.py:1245-1276`)
# ---------------------------------------------------------------------------


# Exactly the 29 characters Python str.strip() removes (str.isspace() True):
# ASCII whitespace incl. the file/group/record/unit separators, NEL, NBSP,
# and the Unicode space blocks. Shared by pystrip (Catalyst btrim), the SQL
# generator (queries._sql_strip) and — implicitly — the Python oracle's
# str.strip(), so the three engines agree on every codepoint.
PY_WHITESPACE = (
    " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def pystrip(col: Column) -> Column:
    """Python ``str.strip()`` semantics — the reference strips with
    str.strip() throughout, while Spark's ``F.trim`` removes ONLY spaces and
    would diverge on '\\r'/'\\t' ends. ``btrim`` with the explicit char set
    stays inside whole-stage codegen (a set-membership scan, no regex — a
    ``regexp_replace(^\\s+|\\s+$)`` here cost +28% on the F6/F7 chain) and,
    unlike Java regex ``\\s`` (ASCII-only), matches Python on Unicode
    whitespace (NBSP, IDEOGRAPHIC SPACE, NEL…)."""
    return F.btrim(col, F.lit(PY_WHITESPACE))


def remove_noise(col: Column) -> Column:
    c = F.regexp_replace(col, r":selected:|:unselected:", "")
    # translate() deletes chars mapped to nothing: " ' ° €
    c = F.translate(c, "\"'°€", "")
    # ONLY '\n' is replaced (`backend_preservation.py:1270-1271`) — '\r'
    # survives mid-string. The final strip is Python str.strip() in the
    # reference, which eats ALL whitespace at the ends (incl. \r\t and
    # Unicode spaces), not just spaces — F.trim would diverge on a
    # trailing '\r'.
    c = F.regexp_replace(c, r"\n", " ")
    c = F.btrim(c, F.lit(PY_WHITESPACE))
    return F.when(col.isNull() | (col == ""), col).otherwise(c)


# ---------------------------------------------------------------------------
# F6 — `<10` misread bank (`backend_preservation.py:1278-1440`).
# One ordered CASE chain; tier order mirrors the oracle exactly.
# ---------------------------------------------------------------------------


def fix_less_than_10(col: Column) -> Column:
    v = pystrip(col)
    return (
        F.when(col.isNull() | (col == ""), col)
        .when(v.isin(banks.MEANINGLESS_LITERALS), F.lit(""))
        .when(v.isin(banks.LESS_THAN_10_LITERALS), F.lit("<10"))
        .when(_matches(v, r"<\s*10[\?\-\)]+$"), F.lit("<10"))
        .when(_matches(v, r"<\s*[czsCZS]ion", ignorecase=True), F.lit("<10"))
        .when(_matches(v, r"\d$"), F.lit("<10"))
        .when(v == "00", F.lit("<10"))
        .when(_matches(v, r"<\s*10[\^]?2$"), F.lit("<10^2"))
        .when(_matches(v, r"<\s*10[\^]?2,?$"), F.lit("<10^2"))
        .when(_matches(v, r"<\s*10\s+2$"), F.lit("<10^2"))
        .when(v.isin(banks.LT10E2_LITERALS), F.lit("<10^2"))
        .when(_matches(v, r"[SC]I0?2,?$", ignorecase=True), F.lit("<10^2"))
        .when(_matches(v, r"[5C6]/0?2$"), F.lit("<10^2"))
        .when(_matches(v, r"\(\s*10?2,?$"), F.lit("<10^2"))
        .when(_matches(v, r"[SC]I0?2\s+2$", ignorecase=True), F.lit("<10^2"))
        .when(_matches(v, r"\d+[45]102$"), F.lit("<10^2"))
        .when(v.isin(banks.LT10_TIER3_LITERALS), F.lit("<10"))
        .when(_matches(v, r"\d+\s*<\s*10"), F.lit("<10"))
        .when(v == "103", F.lit("<10^3"))
        .when(_matches(v, r"<\s*10\s*[\"'\s\?\-\)]*$"), F.lit("<10"))
        .when(v.isin(["<10", "< 10"]), F.lit("<10"))
        .otherwise(v)
    )


# ---------------------------------------------------------------------------
# F7 — scientific normalize (`backend_preservation.py:1442-1501`)
# ---------------------------------------------------------------------------


def normalize_scientific(col: Column) -> Column:
    v = F.translate(pystrip(col), "Xx", "××")
    prefix = (
        F.when(v.startswith("<"), F.lit("<"))
        .when(v.startswith("≤"), F.lit("≤"))
        .otherwise(F.lit(""))
    )
    base1 = F.regexp_extract(v, banks.SCIENTIFIC_SPACED, 1)
    exp1 = F.regexp_extract(v, banks.SCIENTIFIC_SPACED, 2)
    norm1 = F.concat(
        prefix, base1, F.lit("×10^"), F.when(exp1 == "", F.lit("0")).otherwise(exp1)
    )
    base2 = F.regexp_extract(v, banks.SCIENTIFIC_TIGHT, 1)
    exp2 = F.regexp_extract(v, banks.SCIENTIFIC_TIGHT, 2)
    norm2 = F.concat(prefix, base2, F.lit("×10^"), exp2)
    return (
        F.when(col.isNull() | (col == ""), col)
        .when(base1 != "", norm1)
        .when(base2 != "", norm2)
        .otherwise(v)
    )


# ---------------------------------------------------------------------------
# F11 — 7-day ambiguity (`backend_preservation.py:1545-1600`); requires the
# pre-clean original value alongside the cleaned one.
# ---------------------------------------------------------------------------


def fix_7day_ambiguous(cleaned: Column, original: Column) -> Column:
    orig = pystrip(original)
    clear = sorted({p for pat in banks.CLEAR_LT10_ORIGINALS for p in (pat, pat.replace(" ", ""))})
    is_ambiguous = F.lit(False)
    for pat in banks.AMBIGUOUS_LT10_ORIGINALS:
        is_ambiguous = is_ambiguous | orig.contains(pat)
    return (
        F.when(cleaned.contains("^"), cleaned)
        .when(cleaned != "<10", cleaned)
        .when(orig.isin(clear), F.lit("<10"))
        .when(is_ambiguous, F.lit("<10^2"))
        .otherwise(F.lit("<10"))
    )


# ---------------------------------------------------------------------------
# integrated per-cell clean (`backend_preservation.py:1503-1543`).
# ---------------------------------------------------------------------------


def clean_cfu_staged(df, sources: dict, outputs: list):
    """The integrated per-cell CFU clean F4→F5→F6(→F7→F11) as STAGED
    projections; each bank runs once per source in its own projection stage.
    ``day`` ('0'|'7'|'14'|'28') is a plan-time constant: day 0 skips the F6
    bank, day 7 adds the F11 ambiguity fix against the raw value. A null or
    empty raw value cleans to ''.

    ``sources`` maps a short name to the raw Column; ``outputs`` is a list of
    ``(source_name, day, alias)``. Why stages instead of one nested Column
    expression: a materialized attribute can be referenced any number of
    times without duplicating its subtree, so (a) no let() HOF barrier is
    needed and the banks stay inside whole-stage codegen instead of
    interpreted HOF eval, and (b) outputs that share a source (three
    day-columns over one raw value) share the F4→F5 and F6 work instead of
    recomputing it per column. CollapseProject keeps the stages separate
    because each stage's expression is non-trivial and multiply-referenced.
    Measured on the f6_f7 bank query at sf0.1 against the let()-nested
    form: 5.4 s → 3.2 s. Temp columns are dropped; the returned frame adds
    exactly the ``alias`` columns."""
    df = df.withColumns({f"_ccv_{n}": c for n, c in sources.items()})
    df = df.withColumns(
        {
            f"_ccv_{n}_v": remove_noise(split_merged_cells(F.col(f"_ccv_{n}")))
            for n in sources
        }
    )
    lt10_srcs = {n for n, day, _ in outputs if day != "0"}
    if lt10_srcs:
        df = df.withColumns(
            {f"_ccv_{n}_v3": fix_less_than_10(F.col(f"_ccv_{n}_v")) for n in lt10_srcs}
        )
    norm = {}
    for n, day, _ in outputs:
        if day == "0":
            norm[f"_ccv_{n}_n0"] = normalize_scientific(F.col(f"_ccv_{n}_v"))
        else:
            norm[f"_ccv_{n}_n3"] = normalize_scientific(F.col(f"_ccv_{n}_v3"))
    df = df.withColumns(norm)
    outs = {}
    for n, day, alias in outputs:
        src = F.col(f"_ccv_{n}")
        if day == "0":
            out = F.col(f"_ccv_{n}_n0")
        elif day == "7":
            out = fix_7day_ambiguous(F.col(f"_ccv_{n}_n3"), src)
        else:
            out = F.col(f"_ccv_{n}_n3")
        outs[alias] = F.when(src.isNull() | (src == ""), F.lit("")).otherwise(out)
    df = df.withColumns(outs)
    return df.drop(*[c for c in df.columns if c.startswith("_ccv_")])


# ---------------------------------------------------------------------------
# F12 — strain normalize. Ordered substring CASE chain over the synonym map;
# miss → '' (Azure) or passthrough (Upstage).
# ---------------------------------------------------------------------------


def normalize_strain(col: Column, passthrough: bool = False) -> Column:
    def inner(c: Column) -> Column:
        low = F.lower(c)
        chain = None
        for synonym, canonical in banks.STRAIN_SYNONYMS:
            cond = low.contains(synonym.lower())
            chain = (
                F.when(cond, F.lit(canonical))
                if chain is None
                else chain.when(cond, F.lit(canonical))
            )
        return chain.otherwise(c if passthrough else F.lit(""))

    return let(col, inner)


# ---------------------------------------------------------------------------
# F13 — judgment decode (`backend_preservation.py:1602-1613`)
# ---------------------------------------------------------------------------


def extract_judgment(col: Column) -> Column:
    v = F.upper(pystrip(col))
    fail = F.lit(False)
    for ch in banks.JUDGMENT_FAIL_CHARS:
        fail = fail | v.contains(ch)
    fail = fail | v.contains("부적합")
    return (
        F.when(col.isNull() | (col == ""), F.lit("적합"))
        .when(fail, F.lit("부적합"))
        .otherwise(F.lit("적합"))
    )


# ---------------------------------------------------------------------------
# F3/F2 — test/prescription extraction from bulk-name (Azure row variant,
# `backend_preservation.py:925-1007`).
# ---------------------------------------------------------------------------

def extract_ids_staged(df, src: Column, test_alias: str, presc_alias: str):
    """F1→F2/F3 test#/prescription# extraction from a bulk-name cell as
    STAGED projections: test# with its I/1 and |/! repairs (F3) and the
    prescription# (F2); a null ``src`` yields ''. The F1 preprocess runs
    ONCE as a materialized attribute shared by both extraction banks, and
    the banks reference plain attributes so they run in whole-stage codegen
    instead of a let() HOF barrier's interpreted eval (same move as
    :func:`clean_cfu_staged`; measured 22.1 s → interpreted-free on the f3
    bench query). Adds exactly ``test_alias``/``presc_alias``."""
    df = df.withColumn("_eis_src", src)
    df = df.withColumn("_eis_pre", preprocess_bulk_name(F.col("_eis_src")))
    raw_test = first_regexp_extract(F.col("_eis_pre"), banks.TEST_NUMBER_ROW_PATTERNS, group=1)
    df = df.withColumn("_eis_traw", raw_test)
    test_out = F.translate(
        F.regexp_replace(F.col("_eis_traw"), r"([A-Z])(\d{2})1(\d{2})", "$1$2I$3"),
        "|!", "II",
    )
    presc_out = F.trim(
        first_regexp_extract(F.col("_eis_pre"), banks.PRESCRIPTION_ROW_PATTERNS, group=1)
    )
    df = df.withColumns(
        {
            test_alias: F.when(F.col("_eis_src").isNull(), F.lit("")).otherwise(test_out),
            presc_alias: F.when(F.col("_eis_src").isNull(), F.lit("")).otherwise(presc_out),
        }
    )
    return df.drop(*[c for c in df.columns if c.startswith("_eis_")])


# ---------------------------------------------------------------------------
# F15–F19 — dates
# ---------------------------------------------------------------------------


def parse_consecutive_dates(col: Column) -> Column:
    """F15 → array of 4 'MM/DD' strings, or empty array."""
    parts = F.split(F.trim(col), r"\s+")
    all_two_digit = F.forall(parts, lambda p: p.rlike(r"^\d{2}$"))
    ok = (F.size(parts) >= 8) & all_two_digit
    dates = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.concat(
            F.element_at(parts, i * 2 + 1), F.lit("/"), F.element_at(parts, i * 2 + 2)
        ),
    )
    return F.when(ok, dates).otherwise(F.array().cast("array<string>"))


def parse_date_multi(col: Column) -> Column:
    """F16 — multi-format date parse (`backend.py:774-798`): the 9 strptime
    formats in precedence order → '1900-MM-DD' string, or '' when no format
    yields a valid date. A format whose shape matches but whose day is out of
    range for that month in year 1900 falls through to the NEXT format,
    exactly like strptime's ValueError → continue loop (so '02 29' → '')."""

    def inner(c: Column) -> Column:
        branches = []
        for pat, order in banks.DATE_FORMATS:
            gm, gd = (1, 2) if order == "md" else (2, 1)
            m = F.regexp_extract(c, pat, gm).try_cast("int")
            d = F.regexp_extract(c, pat, gd).try_cast("int")
            max_day = (
                F.when(m == 2, F.lit(28))
                .when(m.isin(4, 6, 9, 11), F.lit(30))
                .otherwise(F.lit(31))
            )
            branches.append(
                F.when(
                    d <= max_day,  # null-safe: no match → m/d null → branch null
                    F.concat(
                        F.lit("1900-"),
                        F.lpad(m.cast("string"), 2, "0"),
                        F.lit("-"),
                        F.lpad(d.cast("string"), 2, "0"),
                    ),
                )
            )
        return F.coalesce(*branches, F.lit(""))

    return let(col, inner)


def date_ladder(month: Column, day: Column) -> Column:
    """F17 — struct<date_0,date_7,date_14,date_28> of 'MM/dd' strings, year
    pinned to 2024 (`backend_preservation.py:381,400`)."""
    d0 = F.make_date(F.lit(2024), month, day)
    return F.struct(
        F.date_format(d0, "MM/dd").alias("date_0"),
        F.date_format(F.date_add(d0, 7), "MM/dd").alias("date_7"),
        F.date_format(F.date_add(d0, 14), "MM/dd").alias("date_14"),
        F.date_format(F.date_add(d0, 28), "MM/dd").alias("date_28"),
    )


# ---------------------------------------------------------------------------
# F20 — CFU → log₁₀, Azure variant (`backend_preservation.py:1615-1646`).
# Output is the reference's canonical string form ('<2.0' or '4.7').
# ---------------------------------------------------------------------------


def convert_to_log(col: Column) -> Column:
    def inner(c: Column) -> Column:
        censored_exp = F.regexp_extract(c, r"<10\^(\d+)", 1)
        base = F.regexp_extract(c, r"^([0-9.]+)×10\^(\d+)", 1).try_cast("double")
        expn = F.regexp_extract(c, r"^([0-9.]+)×10\^(\d+)", 2).try_cast("int")
        sci_log = F.round(expn + F.log10(base), 1)
        plain = F.round(F.log10(c.try_cast("double")), 1)
        return (
            F.when(c.isNull() | (c == ""), F.lit(""))
            .when(c.contains("<") & (censored_exp != ""), F.concat(F.lit("<"), censored_exp, F.lit(".0")))
            .when(c.contains("<"), F.lit("<1.0"))
            .when(base.isNotNull(), sci_log.cast("string"))
            .when(c.try_cast("double").isNotNull(), plain.cast("string"))
            .otherwise(c)
        )

    return let(col, inner)
