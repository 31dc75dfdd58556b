"""Null/sentinel handling (F6).

The reference uses blank -> ``'Blank'`` sentinels before joins
(``myConversionsClass.py:268,285``), ``NotMapped`` after joins (``:272``),
``''``/``'nan'``/``'None'`` literals -> real nulls before DB load
(``pipeline/SqlUpload_Actuals.py:75-78``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL_LITERALS = ["", "nan", "None", "NULL", "null", "NaN"]


def blank_to_sentinel(col: Column | str, sentinel: str = "Blank") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull() | (F.trim(c) == ""), F.lit(sentinel)).otherwise(c)


def literals_to_null(col: Column | str, literals: list[str] | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c).isin(literals or NULL_LITERALS), F.lit(None)).otherwise(c)


def zero_to_null(col: Column | str) -> Column:
    """0 -> null, so ``coalesce`` implements 'first non-zero of'
    (``searchSequentially``, myConversionsClass.py:335-339)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == 0, F.lit(None)).otherwise(c)


def first_nonzero(*cols: Column | str) -> Column:
    """W5: first non-zero value across an ordered column list."""
    return F.coalesce(*[zero_to_null(c) for c in cols])
