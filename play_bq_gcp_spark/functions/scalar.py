"""Scalar function surface (SURVEY.md §2.7 F1-F11).

Every scalar transform the reference performs — substring, literal
replace, surrogate-key concat, casts, interval→seconds, date literals —
re-expressed as native Column expressions (JVM-side, whole-stage
codegen).  Notably the reference's only per-row Python (the surrogate
key lambda at /root/reference/main.py:102) needs NO UDF here.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def last_n_chars(col: Column | str, n: int = 3) -> Column:
    """F1: last-n-characters substring (main.py:95 ``str[-3:]``).
    ``right`` returns the whole string when shorter than n — matching
    Python slice semantics (unlike ``substring(c, -n, n)``)."""
    return F.right(_c(col), F.lit(n))


def strip_literal(col: Column | str, literal: str = "_") -> Column:
    """F2: remove every occurrence of a literal character (main.py:100)."""
    return F.translate(_c(col), literal, "")


def surrogate_key(id_col: Column | str, ts_col: Column | str) -> Column:
    """F4: the reference's surrogate key (main.py:102): last-7 chars of
    the underscore-stripped id ++ the timestamp formatted ``ddHHyyyyMM``
    (the reference's odd field order, preserved deliberately)."""
    return F.concat(
        F.right(F.translate(_c(id_col), "_", ""), F.lit(7)),
        F.date_format(_c(ts_col), "ddHHyyyyMM"),
    )


def interval_seconds(end: Column | str, start: Column | str) -> Column:
    """F7: timestamp difference in whole seconds as double
    (main.py:114-115 ``timedelta.dt.total_seconds()``)."""
    return (F.unix_timestamp(_c(end)) - F.unix_timestamp(_c(start))).cast("double")


def run_date() -> Column:
    """F8: midnight-truncated 'today' stamp (main.py:203)."""
    return F.date_trunc("DAY", F.current_timestamp())


def sanitize_ascii(col: Column | str) -> Column:
    """F9: strip non-ASCII + newlines (main.py:81-82,312-313) — config
    hygiene in the reference; exposed as a data function here."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(_c(col), r"[^\x00-\x7F]+", " "), r"\n", "")
    )


def bpe_token_count_udf():
    """§2.9 vectorized scalar ``pandas_udf``: BPE-ish unit count per
    text, computed on Arrow-batched pandas Series (the fast Python
    path; row-at-a-time ``F.udf`` is deliberately absent from this
    engine).  Native twin: ``operators.text.doc_profile``'s
    ``n_tokens_bpe`` regexp_extract_all count — the UDF exists to prove
    the vectorized surface, not because the expression needs Python."""

    @F.pandas_udf("long")
    def _count(text: pd.Series) -> pd.Series:
        return text.str.count(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]").astype("int64")

    return _count


def geometric_mean_udaf():
    """§2.9 grouped-aggregate ``pandas_udf`` (UDAF surface): geometric
    mean of the positive values in a group, computed on an Arrow batch
    of the whole group.  Usable in ``groupBy().agg`` and as a window
    aggregate.  SQL twin: ``exp(avg(ln(x)))``."""

    @F.pandas_udf("double")
    def _gmean(v: pd.Series) -> float:
        import numpy as np

        pos = v[v > 0]
        if pos.empty:
            return float("nan")
        return float(np.exp(np.log(pos).mean()))

    return _gmean
