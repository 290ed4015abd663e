"""Merge / upsert (SURVEY.md §2.3 J4, §4.3-1).

The reference upserts via a staged temp table + correlated
``UPDATE … FROM`` executed remotely (/root/reference/main.py:256-287).
Vanilla Spark has no in-place UPDATE on files, so the engine restates
the upsert as a pure transformation: left-join target to updates and
``coalesce`` each updated column — semantically identical to "update
matched ids, leave the rest" and idempotent under re-runs.  No staging
table is needed because lineage replaces staging.

Scale notes: the upsert join carries no broadcast hint.  AQE sizes it
at runtime, so a dim-sized updates side (only changed rows — the
reference pre-filters with a semi-join for exactly this reason,
main.py:244) is broadcast from observed sizes, while an updates side
that is actually an aggregate over a 100 TB fact table (e.g. per-key
order totals) is never force-broadcast into driver/executor OOM.
The write side does not rewrite the whole table either:
``storage.txn_table.merge_into`` (the daily dimension merge of
``plans.pipeline.TxnWarehouse`` and the additive streaming sink in
``streaming.txn_sink``) rewrites only the base files whose key range
overlaps the source's and commits them as one atomic manifest.  These
DataFrame-level merges are the plans that commit lands.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str | Sequence[str],
    update_cols: Sequence[str],
) -> DataFrame:
    """Return target with ``update_cols`` replaced by the updates row's
    value for matched keys (UPDATE…FROM semantics; rows only in
    ``updates`` are ignored, mirroring main.py:274-284 which never
    inserts)."""
    keys = [key] if isinstance(key, str) else list(key)
    upd = updates.select(
        *keys, *[F.col(c).alias(f"__upd_{c}") for c in update_cols]
    )
    out = target.join(upd, on=keys, how="left")
    for c in update_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__upd_{c}"), F.col(c)))
    return out.drop(*[f"__upd_{c}" for c in update_cols])


def merge_insert_and_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str | Sequence[str],
    update_cols: Sequence[str],
) -> DataFrame:
    """Full MERGE: update matched keys' columns AND insert unmatched
    source rows (the reference achieves this with the anti-join append
    at main.py:176-185 followed by the UPDATE at :274-284; here it is
    one plan)."""
    keys = [key] if isinstance(key, str) else list(key)
    updated = merge_upsert(target, source, keys, update_cols)
    new_rows = source.select(*target.columns).join(
        target.select(*keys), on=keys, how="left_anti"
    )
    return updated.unionByName(new_rows)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: Sequence[str],
    ts_col: str = "effective_ts",
) -> DataFrame:
    """Slowly-changing-dimension Type 2: apply a batch of attribute
    updates to a versioned dimension, KEEPING history — the richer form
    of the reference's in-place UPDATE (main.py:274-284), which is SCD
    Type 1 and destroys it.

    ``dim`` rows carry (key, attrs..., effective_ts, end_ts,
    is_current) — ``end_ts`` NULL and ``is_current`` true on the open
    version.  For each update row:

    * the key's current version (if any, and only when an attr actually
      changed) is CLOSED — ``end_ts`` = update ts, ``is_current`` false;
    * a NEW open version is inserted with the update's attrs;
    * no-op updates (identical attrs) are dropped, so reruns of the
      same batch are idempotent;
    * brand-new keys simply insert their first version.

    One plan, ONE shuffle: a single full-outer join of the current
    versions against the updates covers all four cases per key —
    update-only (first version), current-only (pass through), matched
    unchanged (pass through, drop the no-op), matched changed (emit
    close + open via a 2-struct explode).  The earlier formulation
    spent an inner join plus two anti-joins — three scans of the
    current side; this is the same answer from one.  History rows
    union in untouched (at 100 TB partition the dimension by
    is_current so the current scan prunes).
    """
    end_ts_type = dict(dim.dtypes)["end_ts"]
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))
    c = cur.select(
        F.col(key).alias("__ck"),
        *[F.col(a).alias(f"__c_{a}") for a in attrs],
        F.col(ts_col).alias("__c_ts"),
    )
    u = updates.select(
        F.col(key).alias("__uk"),
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        F.col(ts_col).alias("__u_ts"),
    )
    j = c.join(u, F.col("__ck") == F.col("__uk"), "full_outer")

    def row(side: str, ts, end_ts, is_cur: bool):
        k = F.col("__ck") if side == "c" else F.col("__uk")
        return F.struct(
            k.alias(key),
            *[F.col(f"__{side}_{a}").alias(a) for a in attrs],
            ts.alias(ts_col),
            end_ts.cast(end_ts_type).alias("end_ts"),
            F.lit(is_cur).alias("is_current"),
        )

    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(f"__c_{a}").eqNullSafe(F.col(f"__u_{a}"))
    keep_cur = row("c", F.col("__c_ts"), F.lit(None), True)
    emitted = (
        F.when(F.col("__uk").isNull(), F.array(keep_cur))
        .when(
            F.col("__ck").isNull(),  # brand-new key: first version
            F.array(row("u", F.col("__u_ts"), F.lit(None), True)),
        )
        .when(
            changed,  # close the old version, open the new one
            F.array(
                row("c", F.col("__c_ts"), F.col("__u_ts"), False),
                row("u", F.col("__u_ts"), F.lit(None), True),
            ),
        )
        .otherwise(F.array(keep_cur))  # no-op update: dropped
    )
    cols = [key, *attrs, ts_col, "end_ts", "is_current"]
    return hist.select(*cols).unionByName(
        j.select(F.explode(emitted).alias("r")).select("r.*")
    )


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    version: str,
    op_col: str,
    update_cols: Sequence[str],
) -> DataFrame:
    """CDC apply: materialize the current state of a table from a base
    snapshot plus a change feed of upserts and deletes — the engine
    form of consuming a Debezium/CDC stream into a warehouse table
    (generalizes the reference's UPDATE…FROM, main.py:274-284, with
    inserts and deletes the reference cannot express).

    ``changes`` rows carry (key, version, op, update_cols...) with op
    'U' (upsert) or 'D' (delete).  Last-writer-wins PER KEY by
    ``version`` (ties impossible when version is unique, e.g. a log
    offset).  Semantics per key:

    * no change row            → snapshot row passes through;
    * latest op 'U', matched   → snapshot row with update_cols replaced;
    * latest op 'U', unmatched → new row inserted (non-updated columns
      NULL — the feed is the only source of truth for new keys);
    * latest op 'D'            → row absent from the result, whether or
      not it existed in the snapshot.

    Scale shape: ONE shuffle on the key for the latest-change window
    (map-side combine does not apply to row_number, but the feed is
    the small side by construction) and ONE full-outer join against
    the snapshot.  Applying feeds incrementally in version order is
    idempotent: replaying an already-applied prefix changes nothing.
    """
    from pyspark.sql import Window

    latest = (
        changes.select(
            F.col(key).alias("__k"),
            F.col(version).alias("__v"),
            F.col(op_col).alias("__op"),
            *[F.col(c).alias(f"__u_{c}") for c in update_cols],
        )
        .withColumn("__rn", F.row_number().over(Window.partitionBy("__k").orderBy(F.col("__v").desc())))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__v")
    )
    j = snapshot.join(latest, snapshot[key] == F.col("__k"), "full_outer")
    kept = j.filter(
        F.col("__op").isNull() | (F.col("__op") != F.lit("D"))
    )
    out = kept.withColumn(key, F.coalesce(F.col(key), F.col("__k")))
    for c in update_cols:
        out = out.withColumn(
            c,
            F.when(F.col("__op") == "U", F.col(f"__u_{c}")).otherwise(
                F.col(c)
            ),
        )
    return out.select(*snapshot.columns)
