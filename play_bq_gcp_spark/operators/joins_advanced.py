"""Joins beyond the reference's surface (SURVEY.md §2.3 'absent'):
as-of join, range/band join, cross join, full outer — completing the
engine's join matrix.

As-of join: Spark has no native ASOF JOIN.  Two implementations:

* ``asof_join`` — pure DataFrame composition: union the left (ts) and
  right (effective-from) streams tagged, one window pass carries the
  most recent right value forward, then filter back to left rows.  One
  shuffle on the key, no UDF, scales like any window.
* ``asof_join_pandas`` — grouped ``applyInPandas`` around
  ``pd.merge_asof`` for per-group imperative semantics (tolerance,
  nearest).  Arrow-batched; use when composition can't express it.

Range/band join: the naive form is a broadcast-nested-loop over an
inequality predicate — fine when one side is tiny (a literal band
table).  At scale, bucketize the range key to convert it into an
equi-join on bucket + residual filter (``range_join_bucketed``).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from play_bq_gcp_spark.session import scoped_conf


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
) -> DataFrame:
    """For each left row, attach ``right_vals`` from the latest right
    row with right_ts <= left_ts and matching key (backward as-of).

    Composition: tag and union both sides, sort within key by event
    time (right rows before left rows at equal timestamps), carry the
    last right ROW forward as one struct (so all carried values come
    from the same right row even when one of its columns is NULL),
    keep left rows, unpack the struct.
    """
    lt = left.withColumn("__t", F.col(left_ts)).withColumn("__src", F.lit(1))
    rt = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("__t"),
            *[F.col(c) for c in right_vals],
        )
        .withColumn("__src", F.lit(0))
    )
    # the right row travels as ONE struct: F.last(ignorenulls) then
    # picks whole rows, never mixes columns across right rows
    rt = rt.withColumn("__rrow", F.struct(*[F.col(c) for c in right_vals]))
    lt = lt.withColumn("__rrow", F.lit(None).cast(dict(rt.dtypes)["__rrow"]))
    left_cols = [c for c in left.columns]
    for c in left_cols:
        if c not in {on}:
            rt = rt.withColumn(c, F.lit(None).cast(dict(lt.dtypes)[c]))
    unioned = lt.select(*left_cols, "__t", "__src", "__rrow").unionByName(
        rt.select(*left_cols, "__t", "__src", "__rrow")
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__src").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *left_cols,
        "__src",
        F.last("__rrow", ignorenulls=True).over(w).alias("__asof"),
    )
    out = carried.filter(F.col("__src") == 1).drop("__src")
    for c in right_vals:
        out = out.withColumn(c, F.col(f"__asof.{c}"))
    return out.drop("__asof")


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    tolerance_s: float | None = None,
) -> DataFrame:
    """As-of via ``pd.merge_asof`` per key group (Arrow-batched grouped
    map) — the escape hatch for tolerance/nearest semantics the window
    composition can't express.  ``tolerance_s`` (seconds, inclusive)
    nulls matches staler than the horizon."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields
    ) + ", " + ", ".join(
        f"{c} {dict(right.dtypes)[c]}" for c in right_vals
    )
    r_small = right.select(on, right_ts, *right_vals)
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None

    def merge(l_pdf, r_pdf):  # noqa: ANN001
        l_pdf = l_pdf.sort_values(left_ts)
        r_pdf = r_pdf.sort_values(right_ts)
        if r_pdf.empty:
            for c in right_vals:
                l_pdf[c] = None
            return l_pdf
        merged = pd.merge_asof(
            l_pdf,
            r_pdf[[right_ts, *right_vals]],
            left_on=left_ts,
            right_on=right_ts,
            direction="backward",
            tolerance=tol,
        )
        return merged.drop(columns=[right_ts]) if right_ts not in l_pdf.columns else merged

    return left.groupBy(on).cogroup(r_small.groupBy(on)).applyInPandas(
        merge, out_schema
    )


def range_join_bands(
    facts: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Band join: fact value ∈ [lo, hi).  The band table is tiny →
    broadcast nested-loop is the right physical plan; Catalyst picks it
    automatically for a broadcast side with a non-equi condition."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return facts.join(F.broadcast(bands), cond, "inner")


def full_outer_counts(
    left: DataFrame, right: DataFrame, on: str, l_cnt: str, r_cnt: str
) -> DataFrame:
    """FULL OUTER equi-join of two keyed aggregates with zero-filled
    counts — the union-of-perspectives shape."""
    return (
        left.join(right, on=on, how="full_outer")
        .withColumn(l_cnt, F.coalesce(F.col(l_cnt), F.lit(0)))
        .withColumn(r_cnt, F.coalesce(F.col(r_cnt), F.lit(0)))
    )


def range_join_bucketed(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float = 100_000.0,
) -> DataFrame:
    """Range join for when the range side is TOO BIG to broadcast: both
    sides are tagged with coarse buckets of the range key — each range
    explodes into every bucket it overlaps, each fact into the single
    bucket containing its value — turning the non-equi join into a
    shuffle-partitionable EQUI-join on bucket, with the exact [lo, hi)
    predicate as a residual filter.  Cost scales with range-span /
    bucket_width (replication factor of the ranges side), not with
    |facts| × |ranges|."""
    w = float(bucket_width)
    r = ranges.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor((F.col(hi_col) - 1e-9) / w).cast("long"),
            )
        ),
    )
    f = facts.withColumn("__bucket", F.floor(F.col(value_col) / w).cast("long"))
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return f.join(r, "__bucket", "inner").filter(cond).drop("__bucket")


def temporal_join(
    facts: DataFrame,
    versions: DataFrame,
    key: str,
    fact_ts: str,
    eff_col: str = "effective_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Point-in-time join: each fact row picks the dimension VERSION
    whose validity interval contains the fact's timestamp —
    ``eff <= ts < end`` with an open (NULL-end) current version.  The
    lookup a warehouse does against an SCD2 dimension
    (operators/merge.scd2_apply builds one), and the reason Type 2
    beats the reference's in-place UPDATE
    (/root/reference/main.py:274-284): facts join the attribute values
    that were true AT THE TIME.

    Scale shape: an equi-join on the key carries the plan (one shuffle
    per side, or broadcast when the dimension is small); the interval
    predicate rides along as the join residual.  Because a key's
    versions are disjoint half-open intervals, each fact matches at
    most one version — output cardinality ≤ facts, never
    versions x facts.  Zero-width versions (same-timestamp updates)
    match nothing, so duplicate effective timestamps cannot fan out.
    """
    f = facts.alias("f")
    v = versions.alias("v")
    cond = (
        (F.col(f"f.{key}") == F.col(f"v.{key}"))
        & (F.col(f"f.{fact_ts}") >= F.col(f"v.{eff_col}"))
        & (
            F.col(f"v.{end_col}").isNull()
            | (F.col(f"f.{fact_ts}") < F.col(f"v.{end_col}"))
        )
    )
    return f.join(v, cond).drop(F.col(f"v.{key}"))


def runtime_bloom_filter(spark):
    """Scope Spark's runtime Bloom-filter join pushdown
    (``InjectRuntimeFilter``) to one materialization.

    The optimizer injects a ``might_contain(bloom_agg(dim_key))``
    predicate into the FACT side's scan when the dim side carries a
    selective filter — the fact shuffle then drops non-matching rows
    at the source instead of shuffling them.  The feature is ON by
    default in Spark 3.5/4.x but gated by size thresholds tuned for
    clusters (application side >= 10 GiB scan); at fixture scale the
    gate never opens, so this context lowers it for the duration of
    one eager materialization and RESTORES every touched conf after
    (injection happens at optimization time, i.e. inside the action —
    a set-then-restore around mere plan construction would be a
    no-op, and leaking a 1KB threshold session-wide would silently
    re-plan every other entry's joins).

    ``autoBroadcastJoinThreshold`` is disabled inside the scope to
    model the 100 TB shape the feature exists for: a dim slice too
    big to broadcast (a date range of orders is GBs at scale) joining
    a fact side in the TBs — broadcast joins get DPP instead, and a
    broadcast fixture plan would pin the wrong physical strategy.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    return scoped_conf(spark, confs)


def bloom_pruned_join(
    fact: DataFrame,
    dim_filtered: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Equi-join declared so the optimizer can runtime-Bloom-filter
    the fact scan from the dim side's selective filter.  Pure
    declarative composition — the pushdown itself is Catalyst's
    ``InjectRuntimeFilter`` rule, pinned A/B (with vs without the
    feature, identical results, ``might_contain`` only in the enabled
    plan) in tests/test_plans.py.  Call under
    ``runtime_bloom_filter`` and materialize inside the scope."""
    return fact.join(
        dim_filtered, fact[fact_key] == dim_filtered[dim_key], "inner"
    )
