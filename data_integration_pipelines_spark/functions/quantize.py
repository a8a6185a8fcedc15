"""Hash-proof output quantization: scaled-BIGINT emission of computed
doubles.

The driver's correctness gate hashes result VALUES after a pandas
round-trip; a DOUBLE column that is bit-identical across engines can
still hash-differently in an environment whose DuckDB/pandas renders
rounded doubles differently (round-4 post-mortem: the only red row was
four ``ROUND(double, 4)`` columns whose underlying values were
bit-equal).  The robust contract is therefore: queries never OUTPUT a
rounded double for a computed ratio / dot product / score — they emit
the value quantized to an integer number of basis points (``*_e4``
columns, BIGINT), computed by the IDENTICAL IEEE expression on both
engines:

    e4(x) = sign(x) * floor(|x| * 10000 + 0.5)        (half away from 0)

``abs``, one multiply by the exactly-representable constant 10000.0,
one add of 0.5, ``floor`` — every step is a deterministic IEEE-754
operation, so identical input bits give identical integers on Spark,
DuckDB and numpy.  That determinism is the contract; exact agreement
with true ``ROUND(x, 4)`` is NOT: at representation edges where
``|x|*10000`` lands just below a half-integer, adding 0.5 can carry
up to exactly ``m+1.0`` and ``e4`` lands one unit above true
half-away rounding (the same edge ``clustering._round_half_away``
documents, and why it computes the fraction via ``x - floor(x)``
instead).  Cross-engine hashes are unaffected — both engines run the
IDENTICAL expression on identical bits — but ``e4`` is its own
(deterministic) bucketing, not a bit-for-bit ``ROUND`` replacement.

Exempt from this rule: money aggregates rounded in exact DECIMAL
arithmetic before the cast (the TPC-H answer columns), where the round
happens in exact base-10 space and has been driver-stable since round 1.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantized(col: Column | str, decimals: int = 4) -> Column:
    """Quantize a computed double to a scaled BIGINT (``x * 10^d``,
    half away from zero) — the Spark side of the shared convention."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**decimals)  # exact power-of-10 double
    return (F.signum(c) * F.floor(F.abs(c) * F.lit(scale) + F.lit(0.5))).cast("long")


def quantized_sql(expr: str, decimals: int = 4) -> str:
    """The DuckDB mirror of :func:`quantized` — identical IEEE ops,
    same half-away-from-zero convention."""
    scale = 10**decimals
    return f"CAST(SIGN({expr}) * FLOOR(ABS({expr}) * {scale} + 0.5) AS BIGINT)"


def quantized_sum(col: Column | str, decimals: int = 2) -> Column:
    """Order-independent exact SUM of per-term scaled BIGINTs — the
    fast twin of the DECIMAL(18,6) money convention: each term is
    quantized to an integer number of 10^-d units (``quantized``, the
    identical IEEE expression on both engines), then summed in plain
    LONG arithmetic, which stays inside whole-stage codegen where
    decimal aggregation pays BigDecimal conversion per row (measured
    4.6× on the pricing-summary scan-agg). Headroom: a 10^9-unit term
    over 10^9 rows sums to ~10^18 < 2^63; pick d so terms stay well
    under 10^9 units at the target scale."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(quantized(c, decimals))


def quantized_sum_sql(expr: str, decimals: int = 2) -> str:
    """DuckDB mirror of :func:`quantized_sum`. The outer CAST matters:
    DuckDB's SUM(BIGINT) returns HUGEINT (int128) where Spark returns
    LONG — without it the schema gate fails on dtype."""
    return f"CAST(SUM({quantized_sql(expr, decimals)}) AS BIGINT)"


def e4(col: Column | str) -> Column:
    """Basis-point quantization — ``quantized(col, 4)``."""
    return quantized(col, 4)


def e4_sql(expr: str) -> str:
    """DuckDB mirror of :func:`e4`."""
    return quantized_sql(expr, 4)


def np_quantized(vals, decimals: int = 4):
    """numpy mirror of :func:`quantized` for applyInPandas /
    mapInPandas kernels — returns int64 scaled units."""
    import numpy as np

    scale = float(10**decimals)
    return (np.sign(vals) * np.floor(np.abs(vals) * scale + 0.5)).astype(np.int64)


def np_e4(vals):
    """numpy mirror of :func:`e4` — int64 basis points."""
    return np_quantized(vals, 4)


def np_e6(vals):
    """numpy mirror of ``quantized(col, 6)`` — int64 micro-units."""
    return np_quantized(vals, 6)


# --------------------------------------------------------------------------
# Exact-decimal money aggregates (the TPC-H convention, queries_tpch.py)
# --------------------------------------------------------------------------
#
# DECIMAL(18,6) per-term quantization before summation: decimal addition
# is exact and order-independent, so Spark's partial-agg tree and
# DuckDB's sequential sum produce the SAME total — double sums can
# differ in the last cent when a group lands on a .xx5 boundary.  The
# final ROUND happens in exact base-10 space; the cast back to DOUBLE
# is the identical nearest-double conversion on both engines.

MONEY_DEC = "decimal(18,6)"


def money_sum(col: Column | str, decimals: int = 2) -> Column:
    """Order-independent exact money SUM emitted as a rounded DOUBLE —
    the Spark side of the shared convention."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(MONEY_DEC)), decimals).cast("double")


def money_sum_sql(expr: str, decimals: int = 2) -> str:
    """The DuckDB mirror of :func:`money_sum`."""
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(18,6))), {decimals}) AS DOUBLE)"
