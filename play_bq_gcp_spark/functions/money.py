"""Exact integer-tick money arithmetic for sum-then-round aggregates.

The fixture contract (FIXTURES.md; re-verified against the parquet each
round) makes every money/rate column a 2-decimal-place double: prices,
account balances, order totals, event values, discounts and taxes all
satisfy ``|x*100 - round(x*100)| < 1e-8``.  That means ``floor(x*100 +
0.5)`` recovers the EXACT decimal the generator intended, as a 64-bit
integer, identically in Spark and DuckDB (same IEEE multiply, same
floor, on the same stored double).

Why this module exists: ``round(sum(<float expr>), 2)`` is the one
construct the differential gate cannot keep stable.  Fuzz seed 94
proved it (q10: Spark 106076.33 vs DuckDB 106076.34 from summation
order), and ``tools/boundary_scan.py`` shows the frozen fixtures sit
ulps from half-cent boundaries in q1/q3-class sums, while the two
engines' ``round()`` rules additionally diverge on some exact doubles
(237778.85499999998 at scale 2: DuckDB .86, Spark .85 — verified on
literals).  The fix is the q10 template (queries/tpch.py:52-109),
generalized here: map each row to exact integer ticks, sum the ticks
(order-free), and round by integer arithmetic, so both engines compute
the same integers and only convert to double once, at the output
boundary, with the same exact division.

Overflow discipline: per-row ticks stay well inside int64
(1e7 cents x 100 x 100 ≈ 1e11), but a 100 TB fact table is ~6e11
rows, so a LONG sum of charge ticks (~1e23) would wrap.  Spark sums
are therefore accumulated as DECIMAL(38,0) (exact to ~1e38 — five
orders of magnitude of headroom at 100 TB) and DuckDB's ``sum(BIGINT)``
already widens to HUGEINT (int128).  ``div`` (Spark) / ``//`` (DuckDB)
agree for the non-negative sums these queries produce (truncation vs
floor differ only on negatives — callers with signed sums must keep
the numerator non-negative or shift it; q9 avoids the issue by
emitting raw cents with no rounding division).  The ROUNDED outputs
(cents) must themselves fit int64: Spark's decimal ``div`` silently
wraps past 2^63 even under ANSI (measured), so ``half_up_cents``
carries its own assert_true bound — see its docstring.

Reference parity note: the reference delegated all money aggregation
to BigQuery (/root/reference/main.py:320 area), which computes on
NUMERIC — exact decimal ticks are the same semantics, re-expressed for
a double-typed fixture.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: SQL fragment templates for the DuckDB oracle side, kept next to the
#: Column builders so the two engines' expressions are reviewed as one.
SQL_CENTS = "CAST(floor({col} * 100 + 0.5) AS BIGINT)"


def ticks(col: Column | str, scale: int = 100) -> Column:
    """Exact integer ticks of a 2-dp column: ``floor(x*scale + 0.5)``.

    Exact for any double within 1e-6 of an integer multiple of
    ``1/scale`` (the fixture guarantees 1e-8), including negatives
    (floor(k - eps + 0.5) = k for |eps| < 0.5).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * scale + F.lit(0.5)).cast("long")


def tick_sum(tick_col: Column) -> Column:
    """Order-free exact sum of integer ticks, DECIMAL(38,0)-accumulated
    so the aggregate cannot wrap at 100 TB row counts (see module
    docstring)."""
    return F.sum(tick_col.cast("decimal(38,0)"))


def half_up_cents(sum_col: str, tick_scale: int) -> Column:
    """Round a non-negative tick sum to exact cents, half-up, in
    integer arithmetic: ``(S + tick_scale/2) div tick_scale``.

    ``tick_scale`` is ticks-per-cent (100 for price*(1-disc) ticks,
    10000 for price*(1-disc)*(1+tax) ticks).  Matches DuckDB's
    ``(S + h) // t`` exactly for S >= 0.

    Output-domain bound: Spark's ``div`` always yields BIGINT, so the
    ROUNDED result (cents) must itself fit int64 — i.e. total money
    under 2^63 cents ≈ $9.2e16.  A 100 TB TPC-H corpus totals ~2.4e18
    cents, inside that with ~4x headroom (the DECIMAL accumulation
    headroom protects the pre-division SUM, whose ticks run 1e2-1e4x
    larger).  Beyond the bound the loud path is OUR OWN assert, not
    Spark's: measured on 4.1.2, ``div`` on DECIMAL inputs silently
    WRAPS past int64 even under ANSI mode ((2^63*100+12395) div 100 →
    a negative long, no error), so this builder evaluates an explicit
    ``assert_true`` certificate on each output row before dividing.
    DuckDB's HUGEINT ``//`` would keep going, so the contract is
    "identical values within 2^63-cent totals, loud error beyond",
    not unbounded parity — pinned by
    tests/test_aggregates.py::test_half_up_cents_overflow_is_loud.

    NULL passes through: an aggregate over zero matching rows sums to
    NULL, and ``assert_true(NULL < bound)`` would RAISE the overflow
    message on an empty result (caught by fuzz seed 102: q19's
    brackets matched no rows and the certificate fired spuriously) —
    so the certificate explicitly accepts NULL, and the division then
    propagates NULL to the output exactly like the SQL twin.
    """
    half = tick_scale // 2
    # Output fits int64 iff (S + half) div tick < 2^63, i.e.
    # S + half < 2^63 * tick — NOT (2^63-1)*tick, which would reject
    # totals rounding to exactly 2^63-1 cents, a representable value
    # the contract promises to return (r10 self-review #3).
    # (2^63 exceeds a Java long, so it enters as a SQL decimal literal)
    bound = F.expr(f"CAST({2**63} AS DECIMAL(38,0))") * F.lit(tick_scale)
    guard = F.assert_true(
        F.expr(f"({sum_col}) IS NULL")
        | (F.expr(f"CAST({sum_col} AS DECIMAL(38,0)) + {half}") < bound),
        F.lit(
            f"half_up_cents overflow: {sum_col} exceeds the 2^63-cent "
            "output domain (total past ~$9.2e16) — Spark's div would "
            "wrap silently; widen the output type instead"
        ),
    )
    # assert_true is NULL on success; when() both sequences the check
    # before the division and keeps the wrapped expr from constant-
    # folding around it.  Evaluated on OUTPUT rows only (post-agg).
    return F.when(
        guard.isNull(), F.expr(f"(({sum_col}) + {half}) div {tick_scale}")
    )


def half_up_micro_avg(sum_col: str, count_col: str, per_unit: int) -> Column:
    """Exact ``round(avg, 6)`` in integer space for a non-negative tick
    sum: the average in original units is ``S / (per_unit * n)``; its
    half-up 6-dp rounding is ``(2 * (1e6/per_unit) * S + n) div (2n)``
    micro-units.  ``per_unit`` is ticks per original unit (1 for
    integer quantities, 100 for cents) and must divide 1e6.

    NULL-safe denominator contract (r10 verdict ask #5): ``count_col``
    is whatever count the CALLER aggregated, and SQL ``AVG`` semantics
    require it to be the NON-NULL count of the measure.  Pass
    ``count(col)`` for a NULL-bearing measure — ``sum(ticks)`` already
    skips the same NULL rows, so numerator and denominator agree by
    construction (property-pinned against exact decimal AVG on a
    NULL-bearing corpus in tests/test_properties.py).
    ``pricing_summary`` passes ``count(*)`` (count_order), identical
    to ``count(col)`` because every ``lineitem`` measure is non-NULL
    by the TPC-H spec (FIXTURES.md); the DuckDB oracle divides by the
    same count, so the differential gate holds bit-for-bit.

    A zero/NULL count (empty group, or all-NULL measure under
    ``count(col)``) yields NULL, exactly like ``AVG`` — guarded with
    a lazy ``when`` so ANSI mode never sees the division by zero.
    """
    mult = 2_000_000 // per_unit
    return F.when(
        F.expr(f"({count_col}) > 0"),
        F.expr(
            f"({mult} * ({sum_col}) + ({count_col})) div (2 * ({count_col}))"
        ),
    )
