"""Numeric expression helpers shared by query programs.

The core trick: cross-engine float determinism. A plain ``SUM(double)``
is order-dependent (Spark's partial aggregation order differs from
DuckDB's vectorized scan order), so two correct engines produce sums
differing in the last bits — enough to break a value-hash comparison.
Summing an exact DECIMAL rendering of each input instead is associative
and therefore bit-identical across engines; casting the final total
back to double keeps the output schema friendly. The per-row
double→DECIMAL(38,6) conversion itself is deterministic because both
engines see identical input doubles and round to the nearest 6-decimal
value (ties have measure zero on this data).

Precision choice (measured at sf0.1, q1-shaped agg, median of 5):
decimal(38,6) sums cost ~3.1x a double sum, decimal(18,6) ~2.8x —
the per-row cast is long-backed (compact) at <=18 digits. The Spark
side therefore uses DECIMAL(18,6): per-row values must fit 1e12, and
the sum accumulator is DECIMAL(28,6) (capacity ~1e22 — a 100 TB table
of 1e12 rows x 1e7-magnitude values totals ~1e19, comfortably inside).
The DuckDB oracle side keeps DECIMAL(38,6); both render the same
6-decimal values, so totals are bit-identical.

A fixed-point LONG accumulator (``dsum_grid``) is ~3x faster still —
pure primitive ops, no per-row BigDecimal — but its micro-unit total
overflows past ~9.2e18 (9.2e12 in value units ~ sf100 lineitem), so
queries ROUTE on source size via ``dsum_money``: long-backed below
``LONG_SUM_MAX_BYTES``, decimal-backed beyond. Both paths are
bit-identical on grid data (see dsum_grid's proof sketch), so the
routing is purely physical — the same size-routed-strategy pattern as
rollup_revenue and knn_exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"

#: Micro-unit fixed-point scale for the long-backed exact sum.
GRID_SCALE = 1_000_000

#: Above this source size the long micro-accumulator loses its safety
#: margin (2 GiB parquet ~ 1.2e8 rows x <=1.2e11 micros/row ~ 1.4e19 —
#: at the 9.2e18 long ceiling), so dsum_money falls back to decimal.
LONG_SUM_MAX_BYTES = 2 << 30


def dsum(col: Column | str) -> Column:
    """Exact, engine-order-independent sum of a double column (as double)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Average built from the exact decimal sum: double/double division of
    bit-identical operands — deterministic across engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1))


def dsum_grid(col: Column | str) -> Column:
    """Exact sum for NON-NEGATIVE values on a <=6-decimal-digit grid
    (TPC-H money/rate/quantity columns and their products), bit-identical
    to :func:`dsum` but ~3x faster: per-row work is one fp multiply, one
    add and a floor — no BigDecimal allocation — and accumulation is a
    plain BIGINT of micro-units; one final DECIMAL division restores the
    correctly-rounded double.

    Why it equals the decimal path: the column's TRUE value lies on the
    1e-6 grid (2 dp money x 2 dp rate products are exact 4-6 dp
    numbers), and the stored double is within ~1e-10 relative of it, so
    x*1e6 lands within ~1e-4 of the grid integer — floor(x*1e6 + 0.5)
    recovers it exactly, as does the engines' shortest-repr HALF_UP
    decimal cast. floor(x+0.5) == HALF_UP only for x >= 0 (negative
    half-ties differ), hence the non-negativity requirement.
    Use only when BOTH hold; arbitrary-precision doubles (e.g.
    events.value) must keep dsum()."""
    c = F.col(col) if isinstance(col, str) else col
    micros = F.floor(c.cast("double") * GRID_SCALE + F.lit(0.5))
    return (F.sum(micros).cast("decimal(38,6)") / F.lit(GRID_SCALE)) \
        .cast("double")


def dsum_money(col: Column | str, source_bytes: int | None) -> Column:
    """Size-routed exact sum for grid-valued non-negative columns: the
    long micro-accumulator while the source is small enough to bound the
    total under 2^63 micros, the decimal accumulator beyond. Identical
    results either way (dsum_grid proof), so callers may route freely."""
    if source_bytes is not None and source_bytes < LONG_SUM_MAX_BYTES:
        return dsum_grid(col)
    return dsum(col)


def davg_money(col: Column | str, source_bytes: int | None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return dsum_money(c, source_bytes) / F.count(F.lit(1))


# DuckDB-side SQL fragments mirroring the helpers above (keep in sync).
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)"


def laplace_share(n: Column | str, tot: Column, cells: int) -> Column:
    """Laplace-smoothed proportion (n + 0.5) / (tot + cells*0.5) — the
    add-half estimate shared by the PSI/WoE drift family so empty
    cells stay finite. ``cells`` is the nominal cell count of the
    histogram/category domain; keep it consistent between the two
    distributions being compared (and with the oracle SQL)."""
    c = F.col(n) if isinstance(n, str) else n
    return (c.cast("double") + F.lit(0.5)) / (tot.cast("double")
                                              + F.lit(cells * 0.5))


def psi_term(p_cur: Column, p_ref: Column) -> Column:
    """One cell's contribution (p_cur - p_ref) * ln(p_cur / p_ref),
    rounded to the 6-dp grid so downstream sums are order-free. Also
    the per-category information-value term when fed class-conditional
    shares (ml_woe)."""
    return F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
