"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and order-insensitive values.  Use while iterating:

    python tools/compare.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb


def _arrow_kind(t) -> str:
    """Canonical 'kind' of a pyarrow type for hash-faithful comparison.

    The driver's value hash is Arrow-type-sensitive: DuckDB typing a
    bare integer ``sum()`` as HUGEINT (exported as decimal128) vs
    Spark's int64 mismatches even when values are equal (the round-4
    red class).  Numeric kind/width differences are hard failures.
    String flavor (string vs large_string), integer width (q8's
    int32-vs-int64 ``year`` column was driver-green in r4), float
    width, and timestamp tz/unit are soft — driver-green history
    shows those don't trip the hash.  Decimal (DuckDB's HUGEINT
    export) vs int is the attested hard mismatch.
    """
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "bin"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{_arrow_kind(t.value_type)}>"
    return str(t)


def driver_unhashable_cols(tbl) -> list[str]:
    """Top-level columns the driver's pandas canonicalizer cannot hash.

    The driver sorts results via pandas ``sort_values``/factorize, which
    raises ``unhashable type: 'list'`` on list/map/struct cells (the r5
    ``embedding_label_centroids`` red).  Any oracle-backed entry whose
    result schema contains such a column is a guaranteed driver red even
    when values match — flag it loudly here so the local gate is faithful
    to the driver's canonicalization path."""
    import pyarrow as pa

    bad = []
    for f in tbl.schema:
        t = f.type
        if (
            pa.types.is_list(t)
            or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)
            or pa.types.is_map(t)
            or pa.types.is_struct(t)
        ):
            bad.append(f.name)
    return bad


def _arrow_type_problems(s_tbl, d_tbl) -> list[str]:
    """Per-column Arrow kind mismatches between Spark and DuckDB
    results, columns aligned by sorted name."""
    out = []
    s_types = {f.name: f.type for f in s_tbl.schema}
    d_types = {f.name: f.type for f in d_tbl.schema}
    for c in sorted(set(s_types) & set(d_types)):
        sk, dk = _arrow_kind(s_types[c]), _arrow_kind(d_types[c])
        if sk != dk:
            out.append(
                f"arrow type mismatch on '{c}': spark={s_types[c]} "
                f"duckdb={d_types[c]}"
            )
    return out


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / FP dust so both engines hash alike
        return f"{v:.9g}"
    return str(v)


def rows_key(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__ as entry_mod
    from play_bq_gcp_spark.session import get_spark

    spark = get_spark(app_name="compare")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = [c for c in rel.columns]
            d_tbl = con.sql(
                f"SELECT * FROM ({oracles[name]}) LIMIT 0"
            ).arrow()
            d_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        try:
            s_tbl0 = sdf.limit(0).toArrow()
            problems.extend(_arrow_type_problems(s_tbl0, d_tbl))
            for side, tbl in (("spark", s_tbl0), ("duckdb", d_tbl)):
                for c in driver_unhashable_cols(tbl):
                    problems.append(
                        f"driver-unhashable {side} column '{c}' "
                        "(list/map/struct): the driver's pandas "
                        "canonicalizer will err — stringify at the "
                        "output boundary (concat_ws/array_to_string)"
                    )
        except Exception as e:  # noqa: BLE001
            print(f"     {name}: arrow type check skipped: {e}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            sk, dk = rows_key(s_cols, s_rows), rows_key(d_cols, d_rows)
            if sk != dk:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(sk, dk)) if a != b), None
                )
                problems.append(
                    f"values differ; first diff at sorted-row {diff}:\n"
                    f"    spark : {sk[diff] if diff is not None else '?'}\n"
                    f"    duckdb: {dk[diff] if diff is not None else '?'}"
                )
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(s_rows)} rows match oracle")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
