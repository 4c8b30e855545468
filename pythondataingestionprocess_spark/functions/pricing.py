"""Pricing derivation expressions (SURVEY.md §1.4, §2.8 F16-F17).

The tiered-markup formulas live in the reference's *Excel files* (the
Python code never computes them — it reads their results), so the
engine owns them as expressions. Formulas observed in
data_test/030-Lovely_Toy_Invntry_SV25_p1.xlsx (SURVEY §1.4):

- ``Calc = (C.Unit / Pzs) × tier + 25`` where tier bands on
  ``|P.Tienda − C.Unit|``: >100→1.25, >50→1.5, else 1.75
- ``P.Venta = Calc × m`` where, with d = Calc − C.Unit:
  d < 100 → (d>80→1.25, d>50→1.5, else 1.75);
  else → (d>150→0.95, d>170→0.9, else 1)  — the d>170 branch is
  unreachable (d>170 ⇒ d>150 matches first); preserved as written.
- ``P.Oferta = (P.Venta + Calc) / 2``

Python-side fallbacks (import_files_to_postgre.py:29-30,217-220):
``price = P.Venta or final_cost × 1.30``,
``offer = P.Oferta or price × 0.85`` — Python truthiness, so a 0 price
falls back too; ``pipeline/ingest.py`` applies them with these
constants.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MARGEN_GANANCIA = 1.30  # import_files_to_postgre.py:29
DESCUENTO_OFERTA = 0.85  # import_files_to_postgre.py:30


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tier_multiplier(p_tienda: Column | str, c_unit: Column | str) -> Column:
    """Markup tier from the |store price − unit cost| band. A NULL
    input propagates NULL: the when-chain's otherwise must not swallow
    a NULL gap into the densest 1.75 tier, which would fabricate a
    confident price for a row whose store price is unknown. Excel,
    where the formula lives, computes blank as 0 — a third behavior —
    so NULL-in/NULL-out is the honest choice for cleaned columns where
    blank already became NULL."""
    gap = F.abs(_c(p_tienda) - _c(c_unit))
    return (
        F.when(gap.isNull(), F.lit(None).cast("double"))
        .when(gap > 100, F.lit(1.25))
        .when(gap > 50, F.lit(1.5))
        .otherwise(F.lit(1.75))
    )


def calc_price(
    c_unit: Column | str, pzs: Column | str, p_tienda: Column | str
) -> Column:
    """``Calc`` base price; try_divide so Pzs=0/NULL degrades to NULL
    (ANSI mode would otherwise raise)."""
    per_piece = F.try_divide(_c(c_unit), _c(pzs))
    return per_piece * tier_multiplier(p_tienda, c_unit) + F.lit(25.0)


def sale_price(calc: Column | str, c_unit: Column | str) -> Column:
    """``P.Venta`` tiered markup over Calc (dead d>170 branch kept —
    it documents the Excel formula as found). NULL c_unit propagates
    NULL: the otherwise-chain must not resolve a NULL margin to
    multiplier 1.0 and pass calc through as a confident sale price."""
    d = _c(calc) - _c(c_unit)
    low = (
        F.when(d > 80, F.lit(1.25)).when(d > 50, F.lit(1.5)).otherwise(F.lit(1.75))
    )
    high = (
        F.when(d > 150, F.lit(0.95)).when(d > 170, F.lit(0.9)).otherwise(F.lit(1.0))
    )
    mult = F.when(d.isNull(), F.lit(None).cast("double")).when(
        d < 100, low
    ).otherwise(high)
    return _c(calc) * mult


def offer_price(p_venta: Column | str, calc: Column | str) -> Column:
    """``P.Oferta = (P.Venta + Calc) / 2``."""
    return (_c(p_venta) + _c(calc)) / F.lit(2.0)
