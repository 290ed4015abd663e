"""Session-state hygiene: no operator leaves session conf or temp views
behind, and only the two session-state helpers — ``session.scoped_conf``
and ``streaming.available_now.run_available_now`` — change conf or start
an AvailableNow query."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib

import pytest
from pyspark.sql import functions as F

from play_bq_gcp_spark.catalog import read_table
from play_bq_gcp_spark.session import scoped_conf

PKG = pathlib.Path(__file__).resolve().parents[1] / "play_bq_gcp_spark"

# set explicitly at session build / never set by anything
SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.sql.files.maxRecordsPerFile"


def _scoped_set_key(spark, sf_dir, tmp_path):
    before = spark.conf.get(SET_KEY, None)
    assert before is not None
    with scoped_conf(spark, {SET_KEY: "3"}):
        assert spark.conf.get(SET_KEY) == "3"


def _scoped_unset_key(spark, sf_dir, tmp_path):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, {UNSET_KEY: "7"}):
        assert spark.conf.get(UNSET_KEY) == "7"


def _scoped_raises(spark, sf_dir, tmp_path):
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {SET_KEY: "3", UNSET_KEY: "7"}):
            raise RuntimeError("boom")


def _daily_memory_sink(spark, sf_dir, tmp_path):
    from play_bq_gcp_spark.streaming import daily

    # complete mode with no_data_batches=False: both driver switches
    assert daily.windowed_deduped_counts(spark, sf_dir).collect()


def _running_user_stats(spark, sf_dir, tmp_path):
    from play_bq_gcp_spark.streaming import stateful

    assert stateful.running_user_stats(spark, sf_dir).collect()


def _tws_entry(spark, sf_dir, tmp_path):
    from play_bq_gcp_spark.streaming import stateful

    if not stateful.tws_available():
        pytest.skip("google.protobuf unusable in this container")
    assert stateful.per_type_user_stats_tws(spark, sf_dir).collect()


def _bpe_train(spark, sf_dir, tmp_path):
    from play_bq_gcp_spark.operators.bpe import bpe_train

    docs = read_table(spark, sf_dir, "documents").limit(50)
    assert bpe_train(docs, n_merges=4, checkpoint_every=2)


def _runtime_bloom_filter(spark, sf_dir, tmp_path):
    from play_bq_gcp_spark.operators.joins_advanced import (
        bloom_pruned_join,
        runtime_bloom_filter,
    )

    fact = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    dim = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    with runtime_bloom_filter(spark):
        assert bloom_pruned_join(fact, dim, "l_orderkey", "o_orderkey").count()


def _txn_overwrite_ts_partitions(spark, sf_dir, tmp_path):
    from play_bq_gcp_spark.storage import txn_table as tt

    path = str(tmp_path / "t")
    tt.init_table(path)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, d, 12), d) for d in (1, 2)],
        "day timestamp, id long",
    )
    assert tt.overwrite_partitions(spark, df, path, "day").files


def _udtf_chunk_documents(spark, sf_dir, tmp_path):
    from play_bq_gcp_spark.functions.udtf_fns import chunk_documents

    docs = read_table(spark, sf_dir, "documents").limit(5)
    assert chunk_documents(docs).collect()


@pytest.mark.parametrize(
    "op",
    [
        _scoped_set_key,
        _scoped_unset_key,
        _scoped_raises,
        _daily_memory_sink,
        _running_user_stats,
        _tws_entry,
        _bpe_train,
        _runtime_bloom_filter,
        _txn_overwrite_ts_partitions,
        _udtf_chunk_documents,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_op_leaves_conf_and_views_unchanged(spark, sf_dir, tmp_path, op):
    def views():
        return sorted(
            (t.name, t.isTemporary) for t in spark.catalog.listTables()
        )

    conf_before, views_before = spark.conf.getAll, views()
    op(spark, sf_dir, tmp_path)
    assert spark.conf.getAll == conf_before
    assert views() == views_before


# (module relative to the package, enclosing function) -> why it may
# change session conf or pick a streaming trigger itself
ALLOWED = {
    ("session.py", "scoped_conf"): "the scoped-conf helper itself",
    (
        "streaming/available_now.py",
        "run_available_now",
    ): "the AvailableNow driver itself",
    ("catalog.py", "ensure_nanos_conf"): (
        "session-wide on purpose: every read of the nanos-timestamp "
        "events fixture needs it, on any session, for the session's life"
    ),
    ("queries/analytic.py", "rest_stream_ingest"): (
        "processingTime trigger: the source's cursor advances one page "
        "per poll, so AvailableNow would snapshot only the first offset"
    ),
}


def _guarded_calls(tree: ast.AST):
    """Yield (lineno, what) for every conf.set/conf.unset call, every
    streaming ``.trigger(...)`` and every temp view registered under a
    literal name."""
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
        ):
            continue
        attr, owner = node.func.attr, node.func.value
        owner_name = (
            owner.attr if isinstance(owner, ast.Attribute)
            else getattr(owner, "id", None)
        )
        if attr in ("set", "unset") and owner_name == "conf":
            yield node.lineno, f"conf.{attr}"
        elif attr == "trigger":
            yield node.lineno, "trigger"
        elif (
            attr == "createOrReplaceTempView"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            yield node.lineno, f"fixed temp view {node.args[0].value!r}"


def _enclosing_function(tree: ast.AST, lineno: int) -> str:
    best = None
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.lineno <= lineno <= node.end_lineno
            and (best is None or node.lineno > best.lineno)
        ):
            best = node
    return best.name if best else "<module>"


def test_session_state_changes_only_in_the_helpers():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, what in _guarded_calls(tree):
            fn = _enclosing_function(tree, lineno)
            if what.startswith("fixed temp view") or (rel, fn) not in ALLOWED:
                offenders.append(f"{rel}:{lineno} {fn}: {what}")
    assert not offenders, (
        "session conf / triggers / temp views outside scoped_conf and "
        "run_available_now:\n" + "\n".join(offenders)
    )


def test_guard_allow_list_has_no_stale_entries():
    seen = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, _ in _guarded_calls(tree):
            seen.add((rel, _enclosing_function(tree, lineno)))
    assert set(ALLOWED) <= seen, set(ALLOWED) - seen
