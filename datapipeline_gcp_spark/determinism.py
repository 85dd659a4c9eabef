"""Deterministic numeric aggregation helpers.

Floating-point SUM/AVG is order-dependent; after a shuffle join the
partial-aggregation order differs run-to-run and engine-to-engine (we
measured ~1e-16 relative drift vs a DuckDB oracle on sf0.01). To make
aggregate VALUES exactly reproducible — bitwise, across engines and
across partitionings — money-like measures are summed in exact decimal
arithmetic and only the final result is cast back to DOUBLE:

    SUM(x)  ->  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
    AVG(x)  ->  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x)

Decimal addition is associative and commutative (integer arithmetic on
the unscaled value), so the result is independent of row order and of
the partial/final aggregation split — which also means the same number
comes out on 1 partition or 10,000. Spark widens sum(DECIMAL(18,4)) to
DECIMAL(28,4): at scale 4 that holds sums up to 10^24, far beyond 100 TB
of money columns. The external type stays DOUBLE so downstream schemas
are unchanged.

This matters at scale beyond testing: deterministic aggregates make
reruns/backfills byte-identical, so downstream diffing and caching work.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale 4 preserves 2-decimal money exactly and tolerates derived
# values (price * (1 - discount)) to 4 places.
_DECIMAL = "DECIMAL(18,4)"

#: r14 — escape hatch back to the literal DECIMAL(18,4) accumulator for
#: deployments whose measures fall OUTSIDE the money domain documented
#: on :func:`money_unscaled` (values with >4 decimal digits, |x|>1e11,
#: or per-group sums beyond 9.2e14 currency units). The default is the
#: fast unscaled-long path, bit-equal on the documented domain (proof:
#: tools/check_money_parity.py, OPTIMIZATION_r14.md).
EXACT_DECIMAL_SUMS = os.environ.get("SPARK_GRAFT_EXACT_DECIMAL_SUMS", "") == "1"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec(c: Column | str) -> Column:
    """Cast a double measure to the exact internal decimal type."""
    return _col(c).cast(_DECIMAL)


#: r8 nanvalues boundary — the MEASURE twin of similarity.finite_vectors:
#: an IEEE NaN measurement is a corrupt reading and becomes NULL (absent)
#: at the load projection of every events-measure query, which the whole
#: NULL-skipping aggregate surface then handles identically in both
#: engines. Applied per-query (not inside dsum) so the boundary is
#: visible in each query's plan and oracle string.
def nan_to_null(c: Column | str) -> Column:
    return F.nanvl(_col(c), F.lit(None).cast("double"))


#: oracle twin: DuckDB `SELECT * REPLACE` keeps every other column
SQL_EVENTS_NANSAFE = (
    "(SELECT * REPLACE (CASE WHEN isnan(value) THEN NULL ELSE value END"
    " AS value) FROM events)"
)


# --- r14 fast money aggregation -------------------------------------------
#
# SUM over DECIMAL(18,4) widens its accumulator to DECIMAL(28,4) — past
# Spark's 18-digit compact (long-backed) representation — so every input
# row of the old dsum paid Double.toString -> BigDecimal parse ->
# setScale(4, HALF_UP) -> non-compact BigDecimal add into an UnsafeRow
# byte-array slot. That chain was the dominant per-row cost of the
# headline business KPIs (guide §5; VERDICT r13 #3). For money-domain
# inputs the identical decimal value is reachable without any BigDecimal:
# accumulate the UNSCALED value (x·10^4) as a plain 64-bit long and
# rescale once per group through an exact decimal division.
#
# Parity proof (committed: tools/check_money_parity.py sweep over every
# consumed (table, expression) at sf0.001/0.01/0.1 + the degenerate
# fixtures, in both engines; summarized in OPTIMIZATION_r14.md):
#
# - Domain: x is the nearest double to a value v whose decimal expansion
#   terminates within 4 fractional digits (money and money products),
#   |v| <= 1e11. Then k := v·10^4 is an integer and the computed
#   p = fl(fl(x·10^4) + 0.5) lies within |k|·3.5e-16 + eps of k + 0.5,
#   which is < 0.5 away for |k| < 1.4e15 — so FLOOR(p) == k exactly, and
#   k is also what BigDecimal HALF_UP (Spark) and binary rounding
#   (DuckDB) produce. Ties cannot occur (a ≤4-digit v has no 5th digit).
# - NULL/NaN/±inf/overflow: the guard maps them to NULL (NaN/inf fail
#   the range predicate; |unscaled| >= 1e18 would overflow DECIMAL(18,4)
#   and is excluded the same way; double granularity at 1e18 is 128, so
#   no boundary leak). NaN/±inf cast to NULL on the exact path too (even
#   under ANSI); true overflow is the one OUT-OF-DOMAIN divergence: the
#   exact path RAISES under the engine's ANSI session where the guarded
#   fast path yields NULL. No fixture or money-domain value reaches it.
# - Finisher: SUM(long) -> DECIMAL(38,4) -> /10000 is one HALF_UP
#   decimal division per GROUP (exact: the quotient has <=4 fractional
#   digits <= the result scale), then one correctly-rounded cast to
#   DOUBLE — the same single rounding the old CAST(SUM(...) AS DOUBLE)
#   performed, valid beyond 2^53 where a double-divide would round twice.
# - Long-overflow bound: per-group |sum| <= 9.2e18 unscaled = 9.2e14
#   currency units. At 100 TB TPC-H (SF ~1e5) the largest headline group
#   (country x date) sums ~1.9e12 units — 480x inside the bound. Set
#   SPARK_GRAFT_EXACT_DECIMAL_SUMS=1 to restore the literal decimal
#   accumulator for data outside the documented domain.
# - Spelling: the formula's text lives in one place, sql_money_unscaled
#   and _sql_money_total below. spark.sql strings and the Column API of
#   a column name both use it; only Column arguments go through the
#   expression builders, which compile to the same optimized plan.
# ---------------------------------------------------------------------------


#: A plain or qualified column name (``income``, ``e.value``): the
#: Column API builds its money sums for these as one ``F.expr`` of the
#: SQL spelling below — one py4j call instead of about 16 per
#: aggregate, with the same optimized plan. Anything else (a Column, a
#: name needing quotes) takes the Column builders.
_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*")


def _sql_name(c: Column | str) -> str | None:
    """``c`` as backtick-quoted SQL text when it is a plain or qualified
    column name, else None."""
    if isinstance(c, str) and _NAME.fullmatch(c):
        return ".".join(f"`{part}`" for part in c.split("."))
    return None


# --- SQL spelling of the fast money sum: the formula's one text -----------


def sql_money_unscaled(expr: str) -> str:
    """SQL text of :func:`money_unscaled`. FLOOR on DOUBLE already
    returns BIGINT in Spark SQL; ``0.5D`` is a DOUBLE literal, as in the
    Column builder, so even the analyzed plans match."""
    p = f"({expr}) * 1e4 + 0.5D"
    return f"CASE WHEN {p} > -1e18 AND {p} < 1e18 THEN FLOOR({p}) END"


def _sql_money_total(s: str) -> str:
    """SQL text of :func:`money_total`."""
    return f"CAST(CAST({s} AS DECIMAL(38,4)) / 10000 AS DOUBLE)"


def sql_dsum_fast(expr: str) -> str:
    """Spark-dialect SQL spelling of the r14 unscaled-long money sum —
    value-identical to :func:`sql_dsum` on the money domain (see the
    proof block above; oracle strings keep the decimal form). It also
    backs :func:`dsum` of a column name."""
    return _sql_money_total(f"SUM({sql_money_unscaled(expr)})")


def sql_davg_fast(expr: str) -> str:
    """Fast sibling of :func:`sql_davg`; backs :func:`davg` of a name."""
    return f"{sql_dsum_fast(expr)} / COUNT({expr})"


def sql_dsum_diff_fast(left: str, right: str) -> str:
    """Fast sibling of :func:`sql_dsum_diff`; backs :func:`dsum_diff`
    of two names."""
    return _sql_money_total(
        f"SUM({sql_money_unscaled(left)} - {sql_money_unscaled(right)})"
    )


# --- Column API ------------------------------------------------------------
#
# Column arguments are built expression by expression below; these
# builders must stay plan-equal to the SQL spelling above
# (tests/test_determinism_fast.py compares the optimized plans).


def money_unscaled(c: Column | str) -> Column:
    """BIGINT unscaled value of ``CAST(c AS DECIMAL(18,4))`` for
    money-domain doubles: ``FLOOR(x·10^4 + 0.5)``, NULL outside
    (±10^18) — NaN, ±inf and decimal overflow map to NULL exactly like
    the decimal cast. See the domain/parity notes above."""
    name = _sql_name(c)
    if name is not None:
        return F.expr(sql_money_unscaled(name))
    p = _col(c) * F.lit(1e4) + F.lit(0.5)
    return F.when((p > F.lit(-1e18)) & (p < F.lit(1e18)), F.floor(p))


def money_total(s: Column) -> Column:
    """Exact DOUBLE of an unscaled-long sum: one decimal division per
    group keeps the single correctly-rounded S/10^4 even when |S| > 2^53
    (a double divide would round twice)."""
    return (s.cast("decimal(38,4)") / F.lit(10000)).cast("double")


def dsum(c: Column | str) -> Column:
    """Order-independent SUM for double measures (exact decimal internally,
    DOUBLE externally). Default: unscaled-long accumulation, bit-equal on
    the money domain (see above); set SPARK_GRAFT_EXACT_DECIMAL_SUMS=1
    for the literal DECIMAL(18,4) accumulator."""
    if EXACT_DECIMAL_SUMS:
        return F.sum(dec(c)).cast("double")
    name = _sql_name(c)
    if name is not None:
        return F.expr(sql_dsum_fast(name))
    return money_total(F.sum(money_unscaled(c)))


def davg(c: Column | str) -> Column:
    """Order-independent AVG: exact decimal sum divided by non-null count.

    Matches SQL ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x)``
    — a single double division on deterministic operands.
    """
    name = _sql_name(c)
    if name is not None and not EXACT_DECIMAL_SUMS:
        return F.expr(sql_davg_fast(name))
    return dsum(c) / F.count(_col(c))


# --- SQL-side mirrors (for oracle strings and spark.sql text) -------------


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {_DECIMAL})) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {_DECIMAL})) AS DOUBLE) / COUNT({expr})"


def qround(c: Column | str, digits: int) -> Column:
    """Cross-engine-safe rounding of a double to ``digits`` decimals:
    ``floor(x·10^d + 0.5) / 10^d`` — every step is an IEEE operation
    with one correctly-rounded result, so Spark and DuckDB produce the
    SAME double for the same input, always.

    ``F.round`` is NOT safe as a cross-engine equalizer: Spark rounds
    the shortest decimal representation (``BigDecimal`` HALF_UP via
    ``Double.toString``) while DuckDB rounds the binary value — for
    doubles whose shortest repr ends at the tie digit (0.285 at 2 dp:
    Spark 0.29, DuckDB 0.28) the engines disagree even on bit-identical
    inputs. Use this for any rounded float the oracle gate compares.
    Halves round toward +inf (same formula both engines — symmetric by
    construction, not by convention). Inputs must satisfy
    |x|·10^d < 2^53 (all current uses are ≪ that)."""
    p = float(10**digits)
    return F.floor(_col(c) * p + F.lit(0.5)) / p


def sql_qround(expr: str, digits: int) -> str:
    """DuckDB/ANSI mirror of :func:`qround` — textually the same
    arithmetic, so the doubles match bitwise. The scale is written as an
    exponent literal (``1e6``) because a plain ``1000000.0`` parses as
    DECIMAL in Spark SQL (decimal contagion would change the output
    type); ``1eN`` is DOUBLE in both dialects."""
    return f"(floor(({expr}) * 1e{digits} + 0.5) / 1e{digits})"


def sql_dsum_diff(left: str, right: str) -> str:
    """SUM(left - right) with exact internal arithmetic."""
    return (
        f"CAST(SUM(CAST({left} AS {_DECIMAL}) - CAST({right} AS {_DECIMAL}))"
        " AS DOUBLE)"
    )


def dsum_diff(left: Column | str, right: Column | str) -> Column:
    """Order-independent SUM(left - right) for double measures.

    Fast path: the per-row difference of unscaled longs equals the
    unscaled difference of the DECIMAL(19,4) subtraction (exact), and is
    NULL iff either side is NULL — identical term-skipping."""
    if EXACT_DECIMAL_SUMS:
        return F.sum(dec(left) - dec(right)).cast("double")
    names = _sql_name(left), _sql_name(right)
    if None not in names:
        return F.expr(sql_dsum_diff_fast(*names))
    return money_total(F.sum(money_unscaled(left) - money_unscaled(right)))
