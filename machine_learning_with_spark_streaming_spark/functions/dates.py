"""Date/calendar expressions (F4, F5).

Multi-format parsing (the reference chains ``%b-%y`` / ``%b %Y`` / ``YYYYMM``
/ ``MM/YYYY`` attempts, ``pipeline/lib.py:107-146``) becomes a ``coalesce``
of ``try_to_date`` casts; fiscal-calendar math (Oct-start FY: month > 9
rolls the year, ``packages/myConversionsClass.py:685-709``) becomes pure
column arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the reference's attribute formats, in probe order (pipeline/lib.py:107-146)
DEFAULT_DATE_FORMATS = ["MMM-yy", "MMM yyyy", "yyyyMM", "M/yyyy", "yyyy-MM-dd"]


def parse_date_multi(col: Column | str, formats: list[str] | None = None) -> Column:
    """First format that parses wins; null if none do (try-semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c.cast("string"))
    attempts = [F.try_to_date(c, fmt) for fmt in (formats or DEFAULT_DATE_FORMATS)]
    return F.coalesce(*attempts)


def week_floor_monday(col: Column | str) -> Column:
    """Monday of the ISO week (weekday subtraction,
    myConversionsClass.py:622)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_sub(F.to_date(c), ((F.dayofweek(c) + 5) % 7))


def fiscal_year(col: Column | str, start_month: int = 10) -> Column:
    """Oct-start fiscal year: Oct-Dec belong to the NEXT fiscal year
    (``convertCYtoFY``, myConversionsClass.py:685-695)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.month(c) >= start_month, F.year(c) + 1).otherwise(F.year(c)).cast("int")


def fiscal_month_sort(col: Column | str, start_month: int = 10) -> Column:
    """1..12 position of the month within the Oct-start fiscal year."""
    c = F.col(col) if isinstance(col, str) else col
    return ((F.month(c) - F.lit(start_month) + 12) % 12 + 1).cast("int")


# ------------------------------------------------ FY label from free text

def fy_end_year_from_text(col: Column | str) -> Column:
    """End-year parsed from free attribute text, with the reference's
    precedence (``pipeline/datavalidation.py:114-146``): explicit
    ``FY2026`` first, then ``FY26`` (mapped 2000+yy), then any bare
    ``20xx`` year; null when nothing matches."""
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    y4 = F.regexp_extract(c, r"(?i)\bFY\s*(20[0-9]{2})\b", 1)
    y2 = F.regexp_extract(c, r"(?i)\bFY\s*([0-9]{2})\b", 1)
    yy = F.regexp_extract(c, r"\b(20[0-9]{2})\b", 1)
    return (
        F.when(y4 != "", y4.cast("int"))
        .when(y2 != "", y2.cast("int") + 2000)
        .when(yy != "", yy.cast("int"))
        .cast("int")
    )


def fy_label(end_year: Column) -> Column:
    """``FYxx`` label from an end-year (``derive_global_fy_label...``,
    pipeline/datavalidation.py:148-170); null propagates."""
    return F.when(
        end_year.isNotNull(),
        F.concat(F.lit("FY"), F.lpad((end_year % 100).cast("string"), 2, "0")),
    )
