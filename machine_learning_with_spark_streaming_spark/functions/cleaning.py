"""String/number cleaning expressions (F1, F3, F10).

The reference coerces locale-dirty strings with per-row Python loops
(``packages/myConversionsClass.py:64-95`` strips ``, $ ) space`` and maps
``(x)`` -> ``-x``; ``packages/myDFClass.py:135-142`` zero-pads keys and
strips leading zeros). Here each becomes one Catalyst expression, fully
codegen'd — no ``iterrows`` anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_numeric(col: Column | str, default: float | None = None) -> Column:
    """Locale-tolerant string -> double.

    Strips thousands separators, currency symbols and spaces; accounting
    negatives ``(123)`` -> ``-123``. With ``default`` set, unparseable
    values coerce to it (the reference's tolerant V2,
    ``myConversionsClass.py:81-95``); otherwise they become null.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c.cast("string"), r"[,\$\s]", "")
    s = F.when(
        s.rlike(r"^\(.*\)$"), F.concat(F.lit("-"), F.regexp_replace(s, r"[()]", ""))
    ).otherwise(F.regexp_replace(s, r"[()]", ""))
    out = s.try_cast("double")
    if default is not None:
        out = F.coalesce(out, F.lit(float(default)))
    return out


def strip_upper(col: Column | str) -> Column:
    """``str.strip().upper()`` (myConversionsClass.py:100-105, 639-640)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(c))


def lstrip_zeros(col: Column | str) -> Column:
    """Strip leading zeros from numeric SKUs (myDFClass.py:140)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c.cast("string"), r"^0+(?=.)", "")


def map_values(
    col: Column | str, mapping: dict[str, str], default: Column | None = None
) -> Column:
    """Value remapping as one ``when`` chain (``mapBU`` myDFClass.py:161-168,
    ``replaceValues`` myConversionsClass.py:206-212)."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for k, v in mapping.items():
        cond = c == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    if expr is None:
        return default if default is not None else c
    return expr.otherwise(default if default is not None else c)
