"""Unit coverage for the small SURVEY.md §2 rows not exercised by the
pipeline golden test: the S4 schema fetch, S9/S10 DDL, and the scalar
edge semantics (F1 vs F1b, F7, F9, F11).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from play_bq_gcp_spark import catalog
from play_bq_gcp_spark.functions import scalar


def test_schema_fetch(spark, sf_dir):
    names = catalog.table_schema(spark, sf_dir, "nation").fieldNames()
    assert names == ["n_nationkey", "n_name", "n_regionkey"]


def test_ddl_roundtrip(spark):
    catalog.create_database(spark, "psn_test_db")
    assert spark.catalog.databaseExists("psn_test_db")
    spark.sql("CREATE TABLE IF NOT EXISTS psn_test_db.tmp_t (id INT) USING parquet")
    catalog.drop_table(spark, "psn_test_db.tmp_t")
    assert not spark.catalog.tableExists("psn_test_db.tmp_t")
    catalog.drop_table(spark, "psn_test_db.tmp_t")  # idempotent (not_found_ok)
    spark.sql("DROP DATABASE psn_test_db")


def test_substring_variants(spark):
    """F1 (last 3 chars) vs the bootstrap's F1b (single 3rd-from-last
    char) — the reference's own inconsistency, reproduced knowingly."""
    df = spark.createDataFrame([("ps4_game",), ("ab",)], "category string")
    f1 = [r[0] for r in df.select(scalar.last_n_chars("category", 3)).collect()]
    assert f1 == ["ame", "ab"]  # python slice semantics on short input
    f1b = [r[0] for r in df.select(
        F.substring("category", -3, 1)).collect()]
    assert f1b == ["a", ""]


def test_interval_seconds(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 0, 0), dt.datetime(2024, 1, 1, 1, 30, 15))],
        "a timestamp, b timestamp",
    )
    out = df.select(scalar.interval_seconds("b", "a").alias("s")).first()
    assert out.s == 5415.0 and isinstance(out.s, float)


def test_sanitize_ascii(spark):
    df = spark.createDataFrame([("héllo\nwörld  ",)], "v string")
    got = df.select(scalar.sanitize_ascii("v").alias("v")).first().v
    # reference order (main.py:81-82): non-ASCII → space FIRST, then
    # newlines removed (not spaced) — hence the joined "llow"
    assert got == "h llow rld"


def test_strip_literal_and_trim(spark):
    df = spark.createDataFrame([(" CUSA_123_00 ",)], "v string")
    got = df.select(
        scalar.strip_literal(F.trim("v")).alias("v")
    ).first().v
    assert got == "CUSA12300"


def test_udtf_chunking(spark):
    from play_bq_gcp_spark.functions.udtf_fns import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(70))), (2, "only three words"),
         (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_size=32).orderBy(
        "doc_id", "chunk_idx"
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens))
    assert by_doc[1] == [(0, 32), (1, 32), (2, 6)]
    assert by_doc[2] == [(0, 3)]
    assert 3 not in by_doc  # empty doc → no chunks


def test_profile_table_one_pass(spark, sf_dir):
    """profile_table: per-column stats correct (exact fields checked
    exactly, sketch field within HLL++ tolerance) and the plan is ONE
    aggregation over ONE scan — no per-column jobs."""
    from play_bq_gcp_spark.catalog import read_table
    from play_bq_gcp_spark.operators.profiling import profile_table

    orders = read_table(spark, sf_dir, "orders")
    prof = {r.column: r for r in profile_table(orders).collect()}
    assert set(prof) == set(orders.columns)
    n = orders.count()
    ok = prof["o_orderkey"]
    assert ok.n_rows == n and ok.n_nulls == 0 and ok.null_frac == 0.0
    # o_orderkey is unique: HLL++ at rsd=0.02 must land within 5%
    assert abs(ok.n_distinct - n) / n < 0.05
    # exact mode: count_distinct, no sketch error
    exact = {
        r.column: r
        for r in profile_table(orders.select("o_orderkey"), exact=True).collect()
    }
    assert exact["o_orderkey"].n_distinct == n
    st = prof["o_orderstatus"]
    assert st.min_value == "F" and st.max_value == "P"
    plan = profile_table(orders)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("orders.parquet") == 1


def test_polymorphic_udtf_schema_follows_literal(spark):
    """ngram_windows (UDTF with analyze()): output schema is decided
    per call site from the literal n — gram_1..gram_n — and the window
    contents are correct."""
    import pytest
    from play_bq_gcp_spark.functions.udtf_fns import register_udtfs

    register_udtfs(spark)
    df2 = spark.sql("SELECT * FROM ngram_windows('a b c d', 2)")
    df3 = spark.sql("SELECT * FROM ngram_windows('a b c d', 3)")
    assert df2.columns == ["pos", "gram_1", "gram_2"]
    assert df3.columns == ["pos", "gram_1", "gram_2", "gram_3"]
    assert [(r.gram_1, r.gram_2) for r in df2.collect()] == [
        ("a", "b"), ("b", "c"), ("c", "d")
    ]
    assert df3.count() == 2
    with pytest.raises(Exception, match="positive integer"):
        spark.sql("SELECT * FROM ngram_windows('a b', 0)").collect()


def test_equi_width_histogram_buckets_and_degenerate(spark):
    from play_bq_gcp_spark.operators.profiling import equi_width_histogram

    df = spark.createDataFrame(
        [(float(v),) for v in [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10]],
        "value double",
    )
    out = {r.bucket: r.n for r in equi_width_histogram(df, "value", 5).collect()}
    # width 2: [0,2) [2,4) [4,6) [6,8) [8,10] — max clamped into last
    assert out == {0: 2, 1: 2, 2: 2, 3: 2, 4: 3}

    const = spark.createDataFrame([(7.0,), (7.0,)], "value double")
    rows = equi_width_histogram(const, "value", 5).collect()
    assert len(rows) == 1 and rows[0].bucket == 0 and rows[0].n == 2


def test_expectations_one_pass_and_verdicts(spark):
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.operators.profiling import expectations

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", -1.0), (3, None, 2.0), (3, "c", 4.0)],
        "id int, name string, price double",
    )
    checks = [
        ("row_count", F.count(F.lit(1)), lambda m: m >= 1),
        (
            "completeness_name",
            F.avg(F.col("name").isNotNull().cast("int")),
            lambda m: m == 1.0,
        ),
        (
            "uniqueness_id",
            F.count_distinct("id") / F.count(F.lit(1)),
            lambda m: m == 1.0,
        ),
        ("min_price", F.min("price"), lambda m: m > 0),
    ]
    out = {r.check_name: r for r in expectations(df, checks).collect()}
    assert out["row_count"].metric == 4.0 and out["row_count"].passed
    assert out["completeness_name"].metric == 0.75
    assert not out["completeness_name"].passed
    assert out["uniqueness_id"].metric == 0.75 and not out["uniqueness_id"].passed
    assert out["min_price"].metric == -1.0 and not out["min_price"].passed
    # single job: the whole suite is one aggregate + explode, no
    # per-check scans — assert the plan has exactly one Aggregate
    plan = expectations(df, checks)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1


def test_equi_depth_bins_quartiles(spark):
    from play_bq_gcp_spark.operators.profiling import equi_depth_bins

    # 0.01..1.00 — quartile boundaries at 25/50/75 cents
    df = spark.createDataFrame(
        [(i / 100.0,) for i in range(1, 101)], "v double"
    )
    out = {r.bucket: r for r in equi_depth_bins(df, "v", 4).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert [out[b].n for b in range(4)] == [25, 25, 25, 25]
    assert out[0].min_cents == 1 and out[0].max_cents == 25
    assert out[3].min_cents == 76 and out[3].max_cents == 100


def test_vector_literals_reject_empty_input(spark):
    """ADVICE r7: an empty vector/matrix through the parsed-literal
    fast path would type as array<void>, not array<double>/<bigint> —
    the helpers now refuse instead of emitting a wrong type.  (The
    ``spark`` fixture is only needed because building a non-empty
    literal Column requires an active session.)"""
    import pytest

    from play_bq_gcp_spark.functions.vector import (
        cube_lit,
        int_cube_lit,
        int_mat_lit,
        mat_lit,
        vec_lit,
    )

    for fn, bad in [
        (vec_lit, []),
        (mat_lit, []),
        (mat_lit, [[1.0], []]),
        (cube_lit, [[[1.0]], [[]]]),
        (int_mat_lit, []),
        (int_mat_lit, [[], [1]]),
        (int_cube_lit, [[[1], []]]),
    ]:
        with pytest.raises(ValueError):
            fn(bad)
    # non-empty still works (expression builds without a session)
    vec_lit([1.0, 2.0]); mat_lit([[1.0]]); int_mat_lit([[1, 2]])


def test_variant_write_read_roundtrip(spark, tmp_path):
    """Spark 4 VARIANT through the STORAGE path (VERDICT r8 #8): parse
    JSON to variant, WRITE the variant column to parquet, read it back,
    and extract typed paths — values and variant-ness must survive the
    physical round trip, not just in-plan extraction (the r8
    semistructured_variant entry only reads)."""
    from pyspark.sql import functions as F

    src = spark.range(20).select(
        F.col("id"),
        F.parse_json(
            F.concat(
                F.lit('{"name":"row_'),
                F.col("id").cast("string"),
                F.lit('","n":'),
                F.col("id").cast("string"),
                F.lit(',"tags":[1,'),
                (F.col("id") * 2).cast("string"),
                F.lit("]}"),
            )
        ).alias("v"),
    )
    path = str(tmp_path / "variant_tbl")
    src.write.mode("overwrite").parquet(path)

    back = spark.read.parquet(path)
    assert back.schema["v"].dataType.typeName() == "variant"
    got = (
        back.select(
            "id",
            F.expr("variant_get(v, '$.name', 'string')").alias("name"),
            F.expr("variant_get(v, '$.n', 'long')").alias("n"),
            F.expr("variant_get(v, '$.tags[1]', 'long')").alias("t1"),
        )
        .orderBy("id")
        .collect()
    )
    assert len(got) == 20
    for r in got:
        assert r.name == f"row_{r.id}"
        assert r.n == r.id
        assert r.t1 == 2 * r.id
    # shred/unshred fidelity: re-serializing the read-back variant
    # yields the same canonical JSON as the pre-write plan
    a = [r.j for r in src.select(F.to_json("v").alias("j")).orderBy("id").collect()]
    b = [r.j for r in back.select(F.to_json("v").alias("j")).orderBy("id").collect()]
    assert a == b
