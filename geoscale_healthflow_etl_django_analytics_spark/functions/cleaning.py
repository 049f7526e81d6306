"""The cleaning expression library — SURVEY.md §2.3 (C1–C17).

Every function here is a pure ``Column -> Column`` expression built
from ``pyspark.sql.functions``: JVM-side, codegen'd, zero Python UDFs.
This is the Spark-first re-expression of the reference's row-at-a-time
cleaning layer (`app/etl_app/utils/helpers.py`,
`app/etl_app/services/data_transformer.py`) — semantics preserved,
execution vectorized.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from .exact import fround

# ---------------------------------------------------------------------------
# constants mirroring app/etl_app/utils/constants.py
# ---------------------------------------------------------------------------

MALE_TOKENS = ("M", "MALE", "MAN")
FEMALE_TOKENS = ("F", "FEMALE", "WOMAN")

# keyword order matters: positive is checked FIRST because '-' occurs
# inside negative phrases like 'NO MALARIA' (helpers.py:213-226 checks
# positive keywords before negative ones).
POSITIVE_KEYWORDS = ("POSITIVE", "POS", "+", "P.FALCIPARUM", "P.VIVAX", "MALARIA")
NEGATIVE_KEYWORDS = ("NEGATIVE", "NEG", "-", "NO MALARIA", "CLEAN")

AGE_DEFAULT = 30  # constants.py:18; data_transformer.py:59-61
AGE_MIN, AGE_MAX = 0, 120

MONTH_NAMES = {
    1: "January", 2: "February", 3: "March", 4: "April",
    5: "May", 6: "June", 7: "July", 8: "August",
    9: "September", 10: "October", 11: "November", 12: "December",
}
_MONTH_ALIASES = {}
for _n, _name in MONTH_NAMES.items():
    _MONTH_ALIASES[_name.upper()] = _n
    _MONTH_ALIASES[_name.upper()[:3]] = _n


# Python ``str.strip()`` whitespace, as a Java-regex character class:
# every char where ``c.isspace()`` is True — ASCII \t\n\v\f\r + space,
# the C1 separators \x1c-\x1f, NEL \x85, NBSP \xa0, and the Unicode
# space-separator block. ``F.trim`` strips ONLY ASCII spaces, so a
# value like 'M\r' survived trim and diverged from the reference's
# ``.strip()`` (helpers.py uses bare .strip() throughout) — found by
# the hypothesis parity property in tests/test_reference_semantics.py.
_PY_WS = (
    "[\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x85\\xA0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]"
)


def py_strip(col: Column) -> Column:
    """``str(x).strip()`` with Python's exact whitespace set (the
    reference cleans with bare ``.strip()``; Spark's ``trim`` only
    strips ASCII spaces). Stays a JVM-side codegen regexp."""
    return F.regexp_replace(
        col.cast("string"), f"^{_PY_WS}+|{_PY_WS}+$", ""
    )


def clean_text(col: Column) -> Column:
    """C1 — null/NaN/empty → '', else trimmed string (helpers.py:142-146)."""
    return F.coalesce(py_strip(col), F.lit(""))


def clean_integer(col: Column) -> Column:
    """C2 — ``int(float(x))`` with null on failure (helpers.py:149-156).

    Python's int() truncates toward zero, as does Spark's double→int
    cast. (DuckDB's CAST rounds — oracle SQL must use trunc().)
    try_cast gives the reference's error→null tolerance under Spark's
    default ANSI mode.
    """
    return col.try_cast("double").try_cast("int")


def clean_gender(col: Column) -> Column:
    """C3 — normalize to Male/Female/Unknown (helpers.py:159-168)."""
    up = F.upper(py_strip(col))
    return (
        F.when(up.isin(*MALE_TOKENS), F.lit("Male"))
        .when(up.isin(*FEMALE_TOKENS), F.lit("Female"))
        .otherwise(F.lit("Unknown"))
    )


def categorize_age(col: Column) -> Column:
    """C4 — WHO-ish age buckets (helpers.py:171-186, constants.py:20-28)."""
    a = col.try_cast("double")
    return (
        F.when(a.isNull(), F.lit("Unknown"))
        .when(a < 5, F.lit("Under 5"))
        .when(a < 15, F.lit("5-14"))
        .when(a < 25, F.lit("15-24"))
        .when(a < 45, F.lit("25-44"))
        .when(a < 65, F.lit("45-64"))
        .otherwise(F.lit("65+"))
    )


def clean_age(col: Column) -> Column:
    """C5 — null/out-of-bounds → default 30 (data_transformer.py:59-61)."""
    a = clean_integer(col)
    return (
        F.when(a.isNull() | (a < AGE_MIN) | (a > AGE_MAX), F.lit(AGE_DEFAULT))
        .otherwise(a)
    )


def clean_month(col: Column) -> Column:
    """C6 — 1..12 pass-through; month name/abbrev → number; else null
    (helpers.py:189-210).
    """
    as_int = col.try_cast("double").try_cast("int")
    name_expr = F.upper(py_strip(col))
    mapped = None
    for alias, num in _MONTH_ALIASES.items():
        cond = name_expr == alias
        mapped = F.when(cond, num) if mapped is None else mapped.when(cond, num)
    return (
        F.when(as_int.between(1, 12), as_int)
        .otherwise(mapped)
    )


def month_name(col: Column) -> Column:
    """Month number → English name (analytics_calculator.py:73-84)."""
    expr = None
    for num, name in MONTH_NAMES.items():
        cond = col == num
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(F.lit("Unknown"))


def _contains_any(up: Column, keywords: tuple[str, ...]) -> Column:
    cond = F.lit(False)
    for kw in keywords:
        cond = cond | up.contains(kw)
    return cond


def interpret_test_result(col: Column) -> Column:
    """C7 — keyword scan over slide status (helpers.py:212-226,
    constants.py:37-41). Replicates the reference exactly: null/empty
    → 'Unknown'; positive keywords checked FIRST (so 'NO MALARIA'
    lands on Positive via the 'MALARIA' substring — a reference quirk
    preserved for parity); then negative; else 'Inconclusive'.
    """
    up = F.upper(py_strip(col))
    return (
        F.when(up.isNull() | (up == ""), F.lit("Unknown"))
        .when(_contains_any(up, POSITIVE_KEYWORDS), F.lit("Positive"))
        .when(_contains_any(up, NEGATIVE_KEYWORDS), F.lit("Negative"))
        .otherwise(F.lit("Inconclusive"))
    )


def lab_record_columns(
    gender: Column, age: Column, month: Column, slide: Column
) -> list[Column]:
    """C3-C8 over one raw lab record: gender, age, age_group, month,
    test_result and is_positive (C8 — C7 == Positive,
    helpers.py:229-231), in that order."""
    clean = clean_age(age)
    result = interpret_test_result(slide)
    return [
        clean_gender(gender).alias("gender"),
        clean.alias("age"),
        categorize_age(clean).alias("age_group"),
        clean_month(month).alias("month"),
        result.alias("test_result"),
        (result == "Positive").cast("int").alias("is_positive"),
    ]


def api_per_1000(cases: Column, population: Column) -> Column:
    """C10 — annual parasite incidence = cases/pop*1000, 0 when pop<=0,
    rounded to 2 (malaria_api_calculator_etl_view.py:316).
    """
    return fround(
        F.when(population > 0, cases.cast("double") / population * 1000.0)
        .otherwise(F.lit(0.0)),
        2,
    )


def who_risk_category(api: Column) -> Column:
    """C11 — WHO transmission-risk bucketing
    (malaria_api_calculator_etl_view.py:318-345).
    """
    return (
        F.when(api == 0, F.lit("No Transmission"))
        .when(api < 1, F.lit("Very Low"))
        .when(api < 5, F.lit("Low"))
        .when(api < 50, F.lit("Moderate"))
        .when(api < 100, F.lit("High"))
        .otherwise(F.lit("Very High"))
    )


def high_burden(api: Column) -> Column:
    """C11 — api >= 50 (malaria_api_calculator_etl_view.py:396)."""
    return (api >= 50).cast("boolean")


def elimination_target(api: Column) -> Column:
    """C11 — api < 1 (malaria_api_calculator_etl_view.py:397)."""
    return (api < 1).cast("boolean")


def slope_class(col: Column) -> Column:
    """C12 — slope buckets (batch_processor.py:464-473)."""
    v = col.try_cast("double")
    return (
        F.when(v < 5, F.lit("Flat"))
        .when(v < 15, F.lit("Moderate"))
        .when(v < 30, F.lit("Steep"))
        .otherwise(F.lit("Very Steep"))
    )


def deterministic_id(*cols: Column) -> Column:
    """C14 — deterministic row identity from business keys; the
    reference uses uuid5 over a lowered '_'-joined key
    (weather_data_prec_temp_etl_view.py:72-76). We keep the same
    shape with md5 (stable across engines, oracle-checkable).
    """
    return F.md5(F.lower(F.concat_ws("_", *cols)))


def random_id() -> Column:
    """C13 — per-row random uuid (helpers.py:16-18). Excluded from
    oracle-checked outputs (nondeterministic by design)."""
    return F.expr("uuid()")


def audit_timestamp() -> Column:
    """C15 — 'YYYY-MM-DD HH:MM' creation stamp (helpers.py:11-13)."""
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm")


def sanitize_name(col: Column) -> Column:
    """C17 — lower + non-alnum → '_' (helpers.py:21-138). In this
    engine sanitized names are partition *values*, never table names.
    """
    return F.regexp_replace(F.lower(py_strip(col)), r"[^a-z0-9]+", "_")


def positivity_rate(positive: Column, total: Column) -> Column:
    """round(positive/total*100, 2) with 0 when total==0 — the rate
    formula used across analytics_calculator.py (e.g. :64,110-112).
    """
    return fround(
        F.when(total > 0, positive.cast("double") * 100.0 / total).otherwise(0.0),
        2,
    )
