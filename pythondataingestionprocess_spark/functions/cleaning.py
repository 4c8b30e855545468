"""Type-cleaning expressions (SURVEY.md §2.8 F4-F7, F14-F15).

The reference spends ~200 LoC fighting numpy↔psycopg2 type mismatches
(utils_tools.py:26-90, database_utils.py:206-245); under Spark's
schema-enforced columns that concern disappears and only the *value*
cleaning rules remain, implemented here as column expressions.

All parse failures yield NULL (``try_cast`` — Spark 4 runs ANSI mode
where a plain cast would throw), matching the reference's
errors='coerce' / try-except-None behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Null spelled many ways — the reference's marker set
# (utils_tools.py:59 lowers+strips and checks 'none'/'nan'/'';
# import_files_to_postgre.py:132 additionally replaces 'None'/'none'/'NONE').
NULL_MARKERS: tuple[str, ...] = ("none", "nan", "")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_null_markers(col: Column | str) -> Column:
    """String-typed null-marker normalization (F7): 'None'/'none'/
    'NONE'/'nan'/'' (after trim, case-insensitive) → NULL, else the
    original (untrimmed) value.

    Reference: utils_tools.py:59, import_files_to_postgre.py:132.
    """
    c = _c(col)
    return F.when(c.isNull() | F.lower(F.trim(c)).isin(*NULL_MARKERS), F.lit(None)).otherwise(c)


def safe_float(col: Column | str) -> Column:
    """F6 ``safe_convert_to_float``: null markers → NULL; **comma as
    decimal point** (``93,35`` → 93.35); unparseable → NULL.

    Reference: utils_tools.py:55-64. Note the deliberate tension with
    money_clean (comma = thousands separator there) — the reference
    keeps both rules in different code paths and so do we.
    """
    c = F.trim(_c(col).cast("string"))
    cleaned = F.regexp_replace(c, ",", ".")
    return F.when(
        c.isNull() | F.lower(c).isin(*NULL_MARKERS), F.lit(None).cast("double")
    ).otherwise(cleaned.try_cast("double"))


def money_clean(col: Column | str) -> Column:
    """F4 money string → double: strip '$' and thousands-separator
    commas, then parse; failure → NULL.

    Reference: pdf_to_xlsx.py:67-69 (``replace(',','').replace('$','')``).
    """
    c = F.trim(_c(col).cast("string"))
    return F.regexp_replace(c, r"[$,]", "").try_cast("double")


def signed_money(col: Column | str) -> Column:
    """F5 signed money: strip '+', '$', ',', spaces; the value is
    negative iff a '-' appears anywhere in the raw string.

    Reference: pdf_to_xlsx.py:94-101 (sign restored after cleaning).
    """
    c = _c(col).cast("string")
    magnitude = F.regexp_replace(c, r"[-+$, ]", "").try_cast("double")
    sign = F.when(c.contains("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    return sign * magnitude


def truncate_str(col: Column | str, max_len: int = 500) -> Column:
    """F14 string truncation — the reference's ``str(url)[:500]``
    before the varchar(500) insert (database_utils.py:223)."""
    return F.substring(_c(col).cast("string"), 1, max_len)
