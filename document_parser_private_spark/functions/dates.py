"""Deterministic date parsing as native expressions (SURVEY §2.8 F24
subset).

Native twin of semantics.normalize_date for the SQL-expressible shapes:
Present/Current -> pinned as_of; ISO; quarter; month-name + year;
numeric month + year; bare year. Precedence order identical to the
Python core (which remains authoritative for the full fallback chain
inside the UDF path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..semantics import PY_WS_JRE

AS_OF_ISO = "2025-07-11"

PRESENT_JRE = r"(?i)\b(present|current|ongoing|now)\b"
ISO_JRE = r"^(\d{4})-(\d{2})-(\d{2})$"
QUARTER_JRE = r"(?i)\bQ([1-4])\s*(\d{4})\b"
# linear-time form of (?i)([a-zA-Z]+)[^\d]*(\d{4}) — same matches; see
# semantics._MONTH_YEAR_RE for why
MONTH_YEAR_JRE = r"(?i)(?:^|(?<=\d))[^a-zA-Z\d]*+([a-zA-Z]++)[^\d]*+(\d{4})"
NUM_MONTH_YEAR_JRE = r"(\d{1,2})[^\d]*(\d{4})"
YEAR_JRE = r"(\d{4})"

_MONTHS = ("jan", "feb", "mar", "apr", "may", "jun",
           "jul", "aug", "sep", "oct", "nov", "dec")


def _month_num(name: Column) -> Column:
    """3-letter-prefix month name -> 1..12, NULL otherwise."""
    prefix = F.lower(F.substring(name, 1, 3))
    expr = F.lit(None).cast("int")
    for i, m in enumerate(reversed(_MONTHS)):
        expr = F.when(prefix == m, F.lit(12 - i)).otherwise(expr)
    return expr


def parse_date_col(s: Column) -> Column:
    """Deterministic subset of semantics.normalize_date as one column
    expression; returns DATE or NULL."""
    trimmed = F.regexp_replace(s, f"^{PY_WS_JRE}+|{PY_WS_JRE}+$", "")

    iso = F.to_date(F.nullif(F.regexp_extract(trimmed, ISO_JRE, 0), F.lit("")))

    q = F.nullif(F.regexp_extract(trimmed, QUARTER_JRE, 1), F.lit(""))
    q_year = F.nullif(F.regexp_extract(trimmed, QUARTER_JRE, 2), F.lit(""))
    quarter = F.make_date(
        q_year.try_cast("int"), (q.try_cast("int") - 1) * 3 + 1, F.lit(1)
    )

    mname = F.nullif(F.regexp_extract(trimmed, MONTH_YEAR_JRE, 1), F.lit(""))
    myear = F.nullif(F.regexp_extract(trimmed, MONTH_YEAR_JRE, 2), F.lit(""))
    month_num = _month_num(mname)
    month_year = F.make_date(myear.try_cast("int"), month_num, F.lit(1))

    nmon = F.nullif(
        F.regexp_extract(trimmed, NUM_MONTH_YEAR_JRE, 1), F.lit("")
    ).try_cast("int")
    nyear = F.nullif(F.regexp_extract(trimmed, NUM_MONTH_YEAR_JRE, 2), F.lit(""))
    num_month_year = F.when(
        (nmon >= 1) & (nmon <= 12),
        F.make_date(nyear.try_cast("int"), nmon, F.lit(1)),
    )

    year = F.nullif(F.regexp_extract(trimmed, YEAR_JRE, 1), F.lit(""))
    bare_year = F.make_date(year.try_cast("int"), F.lit(1), F.lit(1))

    return (
        F.when(F.coalesce(trimmed, F.lit("")) == "", F.lit(None).cast("date"))
        .when(trimmed.rlike(PRESENT_JRE), F.to_date(F.lit(AS_OF_ISO)))
        .when(iso.isNotNull(), iso)
        .when(q.isNotNull(), quarter)
        .when(mname.isNotNull() & month_num.isNotNull(), month_year)
        .when(num_month_year.isNotNull(), num_month_year)
        .when(year.isNotNull(), bare_year)
        .otherwise(F.lit(None).cast("date"))
    )
