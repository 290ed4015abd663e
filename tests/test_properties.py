"""Property-based tests (SURVEY.md §5.2-4) with hypothesis.

Each property runs a handful of examples (Spark jobs are ~100 ms each,
so max_examples stays small); the invariants are the ones the
reference's pipeline silently relies on.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from play_bq_gcp_spark.operators.relational import anti_join, semi_join
from play_bq_gcp_spark.operators.skew import salted_agg, salted_join

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),          # key
        st.integers(min_value=-1000, max_value=1000),   # value
    ),
    min_size=0,
    max_size=30,
)
keysets = st.lists(
    st.integers(min_value=0, max_value=5), min_size=0, max_size=6, unique=True
)


@given(left=rows, keys=keysets)
@settings(**_SETTINGS)
def test_semi_anti_partition(spark, left, keys):
    """semi(L, R) ⊎ anti(L, R) == L — the reference's new-vs-existing
    row split (main.py:176 + :244) is a partition of the input."""
    l_df = spark.createDataFrame(left or [(0, 0)], "k long, v long")
    if not left:
        l_df = l_df.limit(0)
    r_df = spark.createDataFrame([(k,) for k in keys] or [(0,)], "k long")
    if not keys:
        r_df = r_df.limit(0)
    semi = semi_join(l_df, r_df, "k")
    anti = anti_join(l_df, r_df, "k")
    got = sorted((r.k, r.v) for r in semi.unionAll(anti).collect())
    assert got == sorted(left)


@given(data=rows)
@settings(**_SETTINGS)
def test_salted_agg_equals_plain(spark, data):
    df = spark.createDataFrame(data or [(0, 0)], "k long, v long")
    if not data:
        df = df.limit(0)
    salted = salted_agg(
        df, ["k"], {"n": ("count", "v"), "s": ("sum", "v")}, n_salts=4
    )
    plain = df.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("s")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


@given(left=rows, right=rows)
@settings(**_SETTINGS)
def test_salted_join_equals_plain(spark, left, right):
    l_df = spark.createDataFrame(left or [(0, 0)], "k long, v long")
    r_df = spark.createDataFrame(
        [(k, v) for k, v in (right or [(0, 0)])], "k long, w long"
    )
    if not left:
        l_df = l_df.limit(0)
    if not right:
        r_df = r_df.limit(0)
    salted = salted_join(l_df, r_df, "k", n_salts=3)
    plain = l_df.join(r_df, "k", "inner")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user key
        st.integers(min_value=0, max_value=10_000), # epoch seconds
        st.integers(min_value=-100, max_value=100), # value
    ),
    min_size=0,
    max_size=25,
)


@given(lrows=events, rrows=events)
@settings(**_SETTINGS)
def test_asof_window_equals_pandas_merge_asof(spark, lrows, rrows):
    """The two as-of implementations — pure window composition and
    grouped applyInPandas around pd.merge_asof — must agree row-for-row
    on arbitrary data (backward as-of, no tolerance).  Right timestamps
    are deduped per (key, ts) because the implementations break that
    tie differently (merge_asof takes the last input row, the window
    takes the last in __src order) — real feeds key right rows
    uniquely by (key, ts)."""
    from play_bq_gcp_spark.operators.joins_advanced import (
        asof_join,
        asof_join_pandas,
    )

    seen = set()
    rdedup = []
    for k, ts, v in rrows:
        if (k, ts) not in seen:
            seen.add((k, ts))
            rdedup.append((k, ts, v))
    left = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts, _) in enumerate(lrows)],
        "k int, lts int, lid int",
    ).withColumn("lts", F.timestamp_seconds("lts"))
    right = spark.createDataFrame(
        rdedup or [(None, None, None)], "k int, rts int, rv int"
    ).filter(F.col("k").isNotNull()).withColumn(
        "rts", F.timestamp_seconds("rts")
    )
    a = asof_join(left, right, "k", "lts", "rts", ["rv"])
    b = asof_join_pandas(left, right, "k", "lts", "rts", ["rv"])
    got_a = {(r.lid, r.rv) for r in a.collect()}
    got_b = {(r.lid, r.rv) for r in b.collect()}
    assert got_a == got_b


# --- SCD2 invariants ------------------------------------------------------

scd_dims = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # key
        st.sampled_from(["a", "b", "c"]),       # attr
    ),
    min_size=0,
    max_size=7,
    unique_by=lambda t: t[0],
)
scd_upds = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key (may be new)
        st.sampled_from(["a", "b", "c"]),       # attr (may be a no-op)
    ),
    min_size=0,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(dim_rows=scd_dims, upd_rows=scd_upds)
@settings(**_SETTINGS)
def test_scd2_apply_invariants(spark, dim_rows, upd_rows):
    """Model-based check of scd2_apply against a dict reference model:
    per-key version chains stay consistent for ANY update batch —
    exactly one open version per surviving key, closed versions end at
    the update ts, no-op updates change nothing, and reapplying the
    same batch is idempotent."""
    import datetime as dt

    from play_bq_gcp_spark.operators.merge import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    dim = spark.createDataFrame(
        [(k, a, t0, None, True) for k, a in dim_rows] or [(0, "a", t0, None, True)],
        "ck long, attr string, effective_ts timestamp, "
        "end_ts timestamp, is_current boolean",
    )
    if not dim_rows:
        dim = dim.limit(0)
    upd = spark.createDataFrame(
        [(k, a, t1) for k, a in upd_rows] or [(0, "a", t1)],
        "ck long, attr string, effective_ts timestamp",
    )
    if not upd_rows:
        upd = upd.limit(0)

    out = scd2_apply(dim, upd, "ck", ["attr"])
    got = sorted(
        (r.ck, r.attr, r.effective_ts, r.end_ts, r.is_current)
        for r in out.collect()
    )

    # reference model in plain python
    base = dict(dim_rows)
    upds = dict(upd_rows)
    expect = []
    for k, a in base.items():
        if k in upds and upds[k] != a:
            expect.append((k, a, t0, t1, False))          # closed
            expect.append((k, upds[k], t1, None, True))   # new open
        else:
            expect.append((k, a, t0, None, True))         # untouched/no-op
    for k, a in upds.items():
        if k not in base:
            expect.append((k, a, t1, None, True))         # first version
    assert got == sorted(expect)

    # idempotence: applying the SAME batch to the result is a no-op
    again = scd2_apply(out, upd, "ck", ["attr"])
    got2 = sorted(
        (r.ck, r.attr, r.effective_ts, r.end_ts, r.is_current)
        for r in again.collect()
    )
    assert got2 == got


# --- txn-table op-sequence model ------------------------------------------

txn_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(min_value=0, max_value=3)),
        st.tuples(st.just("delete"), st.integers(min_value=0, max_value=9)),
        st.tuples(st.just("compact"), st.just(0)),
    ),
    min_size=1,
    max_size=4,
)


@given(ops=txn_ops)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_txn_table_matches_model_under_op_sequences(spark, ops):
    """Any interleaving of append / copy-on-write delete / compact must
    leave the table equal to a plain python model of the same ops, with
    one committed version per op and the model state reproducible at
    every intermediate version via time travel."""
    import tempfile

    from play_bq_gcp_spark.storage import txn_table as tt

    path = tempfile.mkdtemp(prefix="txn_fuzz_") + "/t"
    tt.init_table(path)
    model: set[int] = set()
    states = [set()]  # model state after each committed version
    ops = [("append", 0)] + ops  # never delete/compact an empty table

    for op, arg in ops:
        if op == "append":
            lo = arg * 10
            tt.append(
                spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v"), path
            )
            model |= set(range(lo, lo + 10))
        elif op == "delete":
            tt.delete_where(spark, path, f"id % 10 = {arg}")
            model = {i for i in model if i % 10 != arg}
        else:
            tt.compact(spark, path, target_files=2)
        states.append(set(model))

    assert tt.current_version(path) == len(ops)
    for v, want in enumerate(states):
        if v == 0 or not want:
            continue  # v0 is the empty create; empty states lack a schema
        got = {r.id for r in tt.read(spark, path, version=v).collect()}
        assert got == want, f"version {v}"


doc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=99),  # doc_id (deduped below)
        st.sampled_from(["s1", "s2", "s3"]),     # source
        st.integers(min_value=1, max_value=12),  # n words
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(data=doc_rows, budget=st.integers(min_value=4, max_value=40))
@settings(**_SETTINGS)
def test_sequence_pack_invariants(spark, data, budget):
    """Packing invariants that must hold for ANY corpus: (1) bin ids
    are dense from 0 per group in id order; (2) a bin's token total
    never exceeds budget + (its last doc's tokens - 1) — i.e. only the
    straddling document overflows; (3) every doc is assigned exactly
    once."""
    from play_bq_gcp_spark.operators.curation import sequence_pack

    df = spark.createDataFrame(
        [(i, s, " ".join(f"w{j}" for j in range(n))) for i, s, n in data],
        "doc_id long, source string, text string",
    )
    out = sequence_pack(df, budget=budget).collect()
    assert len(out) == len(data)
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_group.setdefault(r.source, []).append(r)
    for rs in by_group.values():
        # monotone bins from 0; a gap of g bins needs the previous doc
        # to span them (> (g) x budget tokens of prefix advance)
        assert rs[0].bin_id == 0
        for a, b in zip(rs, rs[1:]):
            gap = b.bin_id - a.bin_id
            assert gap >= 0
            assert (gap - 1) * budget < a.n_tokens
        # overflow only by the straddling doc
        totals: dict[int, int] = {}
        for r in rs:
            totals[r.bin_id] = totals.get(r.bin_id, 0) + r.n_tokens
        for b, tot in totals.items():
            last = [r for r in rs if r.bin_id == b][-1]
            assert tot <= budget + last.n_tokens - 1 or tot == last.n_tokens


@given(data=doc_rows)
@settings(**_SETTINGS)
def test_domain_mix_quota_feasibility(spark, data):
    """For any corpus and the fixed 50/30/20 target: each source keeps
    exactly floor(w_s * N) docs where N = min(count_s / w_s), so the
    kept mixture never exceeds any source's population and hits the
    target ratios as closely as floors allow."""
    import math

    from play_bq_gcp_spark.operators.curation import domain_mix

    weights = {"s1": 0.5, "s2": 0.3, "s3": 0.2}
    counts: dict[str, int] = {}
    for _, s, _ in data:
        counts[s] = counts.get(s, 0) + 1
    if set(counts) != set(weights):
        return  # need all three sources present for a defined mixture
    df = spark.createDataFrame(
        [(i, s) for i, s, _ in data], "doc_id long, source string"
    )
    out = domain_mix(df, weights)
    got = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_cap = min(counts[s] / w for s, w in weights.items())
    expect = {s: math.floor(w * n_cap) for s, w in weights.items()}
    assert {s: got.get(s, 0) for s in weights} == expect


_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
texts = st.lists(st.sampled_from(_WORDS), min_size=3, max_size=8).map(" ".join)
corpora = st.lists(texts, min_size=1, max_size=8)


@given(new_texts=st.lists(texts, min_size=1, max_size=6), corpus_texts=corpora)
@settings(**_SETTINGS)
def test_incremental_dedup_partition_and_exact_layer(
    spark, new_texts, corpus_texts
):
    """For ANY batch/corpus: every new doc gets exactly one verdict;
    exact_dup holds iff the normalized text appears in the corpus, with
    n_matches = the number of corpus copies; near_dup always names at
    least one match; new never has a corpus twin."""
    from play_bq_gcp_spark.operators.dedup import incremental_dedup

    new = spark.createDataFrame(
        list(enumerate(new_texts)), "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(corpus_texts)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_dedup(new, corpus).collect()}
    assert sorted(out) == list(range(len(new_texts)))
    from collections import Counter

    corpus_counts = Counter(corpus_texts)
    for i, t in enumerate(new_texts):
        r = out[i]
        if corpus_counts[t]:
            assert (r.verdict, r.n_matches) == ("exact_dup", corpus_counts[t])
        elif r.verdict == "near_dup":
            assert r.n_matches >= 1
        else:
            assert (r.verdict, r.n_matches) == ("new", 0)


# --- rolling-hash fingerprint vs pure-Python reference ---------------------

_doc_texts = st.lists(
    st.text(
        alphabet="abc XYZ012 !?中",  # forces normalization + CJK strip
        min_size=0,
        max_size=120,
    ),
    min_size=1,
    max_size=8,
)


def _py_rolling(text: str, gram=8, window=4, base=131, mod=2_147_483_647):
    import re

    toks = [t for t in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split() if t]
    vals = [(31 * len(t) + ord(t[0])) % mod for t in toks]

    def poly(a):
        acc = 0
        for x in a:
            acc = (acc * base + x) % mod
        return acc

    grams = (
        [poly(vals[i : i + gram]) for i in range(len(vals) - gram + 1)]
        if len(vals) >= gram
        else []
    )
    fps = (
        sorted(
            {
                min(grams[w : w + window])
                for w in range(len(grams) - window + 1)
            }
        )
        if len(grams) >= window
        else []
    )
    return {
        "n_tokens": len(toks),
        "full_hash": poly(vals),
        "n_grams": len(grams),
        "n_fp": len(fps),
        "fp_min": fps[0] if fps else None,
        "fp_max": fps[-1] if fps else None,
    }


@given(texts=_doc_texts)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_rolling_fingerprint_matches_python_reference(spark, texts):
    from play_bq_gcp_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in rolling_fingerprint(df).collect()}
    for i, t in enumerate(texts):
        got = {k: v for k, v in out[i].items() if k != "doc_id"}
        assert got == _py_rolling(t), f"doc {i}: {t!r}"


# --- attribution vs pure-pandas reference ----------------------------------

_attr_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),                 # user
        st.integers(min_value=0, max_value=20 * 86400),        # ts offset sec
        st.sampled_from(["view", "click", "purchase", "error"]),
        st.integers(min_value=0, max_value=9999),              # cents
    ),
    min_size=1,
    max_size=25,
)


def _py_attribution(rows, lookback_s=7 * 86400):
    out = {}
    for u, ts, et, cents in rows:
        if et != "purchase":
            continue
        touches = [
            (t, e)
            for (uu, t, e, _c) in rows
            if uu == u and e in ("view", "click") and ts - lookback_s <= t <= ts
        ]
        # tie-free key: (ts, channel rank) — view=0, click=1
        key = lambda te: (te[0], 0 if te[1] == "view" else 1)
        first = min(touches, key=key)[1] if touches else "none"
        last = max(touches, key=key)[1] if touches else "none"
        for model, ch in (("first_touch", first), ("last_touch", last)):
            n, c = out.get((model, ch), (0, 0))
            out[(model, ch)] = (n + 1, c + cents)
    return out


@given(rows=_attr_events)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_attribution_matches_pandas_reference(spark, rows):
    from datetime import datetime, timedelta

    from play_bq_gcp_spark.operators.behavior import attribution

    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, base + timedelta(seconds=ts), u, et, c / 100.0, "{}")
            for i, (u, ts, et, c) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    got = {
        (r.model, r.channel): (r.conversions, r.credited_cents)
        for r in attribution(df).collect()
    }
    assert got == _py_attribution(rows)


_gl_entry = st.tuples(
    st.integers(min_value=1, max_value=6),    # title number
    st.integers(min_value=0, max_value=20),   # play_count
)
_gl_snapshot = st.lists(
    _gl_entry, min_size=1, max_size=6,
    unique_by=lambda t: t[0],
)


def _model_day(d1, d2):
    """The reference's day on the ``game`` dimension, in plain Python
    (main.py:176-185, :268-287): ids new in ``d2`` are appended; ids
    whose ``play_count`` rose get ``last_played_date_time``,
    ``play_count`` and ``play_duration`` from ``d2``; every other
    stored row stays as it is."""
    import datetime as dt

    stored = {
        tid: (count, count * 360.0, dt.datetime(2024, 1, 1))
        for tid, count in d1
    }
    for tid, count in d2:
        if tid not in stored or count > stored[tid][0]:
            stored[tid] = (count, count * 360.0, dt.datetime(2024, 1, 2))
    return sorted((f"CUSA{tid:07d}00", *v) for tid, v in stored.items())


@given(d1=_gl_snapshot, d2=_gl_snapshot)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_dim_equivalent_across_warehouses(spark, tmp_path_factory, d1, d2):
    """The warehouse's dimension update — a key-pruned MERGE INTO
    commit — must leave the game table the reference's day leaves
    (``_model_day``) for ANY pair of day snapshots: new titles,
    increased counts, decreased counts, disappeared titles."""
    import datetime as dt

    from play_bq_gcp_spark.plans import pipeline
    from play_bq_gcp_spark.sources.rest_api import GAME_SNAPSHOT_SCHEMA

    def rows(day, entries):
        return [
            (
                f"CUSA_{tid:07d}_00", f"Game{tid}", f"http://img/{tid}",
                "ps4_game" if tid % 2 else "ps5_native_game",
                dt.datetime(2020, 1, tid, 13),
                dt.datetime(2024, 1, day),
                count, count * 360.0,
            )
            for tid, count in entries
        ]

    snaps = [
        spark.createDataFrame(rows(1, d1), GAME_SNAPSHOT_SCHEMA),
        spark.createDataFrame(rows(2, d2), GAME_SNAPSHOT_SCHEMA),
    ]
    wh = pipeline.TxnWarehouse(str(tmp_path_factory.mktemp("wheq")))
    pipeline.bootstrap(wh, snaps[0])
    pipeline.run_daily(wh, spark, snaps[1], "2024-01-02")
    got = sorted(
        (r.title_id, r.play_count, r.play_duration, r.last_played_date_time)
        for r in wh.read(spark, "game").collect()
    )
    assert got == _model_day(d1, d2)


# --- dyadic EWMA vs pure-Python reference ----------------------------------

_ewma_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user
        st.integers(min_value=0, max_value=24),     # day offset
        st.integers(min_value=-99999, max_value=99999),  # cents
    ),
    min_size=1,
    max_size=30,
)


def _py_ewma(rows, span):
    """Observation-indexed truncated dyadic EWMA, integer-exact: for
    each key's j-th most recent of the last ``span`` observed days the
    weight is 2^(span-1-j); num/den are exact ints, value rounds once."""
    daily = {}
    for u, d, cents in rows:
        daily[(u, d)] = daily.get((u, d), 0) + cents
    out = {}
    by_user = {}
    for (u, d), cents in sorted(daily.items()):
        by_user.setdefault(u, []).append((d, cents))
    for u, series in by_user.items():
        for i, (d, _) in enumerate(series):
            window = series[max(0, i - span + 1): i + 1]
            num = sum(
                c * (1 << (span - 1 - (i - j)))
                for j, (_, c) in enumerate(window, start=max(0, i - span + 1))
            )
            den = (1 << span) - (1 << (span - len(window)))
            out[(u, d)] = (num, den, round(num / den / 100.0, 4))
    return out


@given(rows=_ewma_events, span=st.integers(min_value=1, max_value=20))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_ewma_daily_matches_python_reference(spark, rows, span):
    """events_ewma_daily claims exact dyadic weights (commit 0c6debe);
    the Spark self-join form must equal the naive per-key loop for ANY
    (user, day, cents) multiset and ANY valid span — numerator,
    denominator, and rounded value all integer-identical."""
    from datetime import datetime, timedelta

    from play_bq_gcp_spark.operators.behavior import ewma_daily

    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, base + timedelta(days=d, hours=i % 24), u, c / 100.0)
            for i, (u, d, c) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    got = {
        (r.user_id, (r.day - base.date()).days): (
            r.ewma_num, r.ewma_den, r.ewma_value
        )
        for r in ewma_daily(df, span=span).collect()
    }
    # cents quantization happens BEFORE the daily sum in the operator
    # (floor per event); mirror it in the reference input
    ref_rows = [
        (u, d, int((c / 100.0) * 100 // 1)) for (u, d, c) in rows
    ]
    assert got == _py_ewma(ref_rows, span)


def test_ewma_daily_rejects_inexact_spans(spark):
    """Spans beyond 53 lose integrality through double-typed pow();
    the operator must refuse rather than silently drift."""
    import pytest

    from play_bq_gcp_spark.operators.behavior import ewma_daily

    df = spark.createDataFrame([], "ts timestamp, user_id long, value double")
    with pytest.raises(ValueError):
        ewma_daily(df, span=54)
    with pytest.raises(ValueError):
        ewma_daily(df, span=0)


# --- media container decoders vs corrupt/truncated payloads ----------------

_img = st.integers(min_value=1, max_value=12)


@given(
    w=_img, h=_img,
    bits=st.sampled_from([8, 24]),
    cut=st.floats(min_value=0.0, max_value=0.99),
)
@settings(max_examples=40, deadline=None)
def test_bmp_decode_never_silently_wrong(w, h, bits, cut):
    """Any prefix-truncation of a valid BMP either raises or (when the
    cut only removes bytes past the pixel data) still decodes to the
    exact original — never a wrong-shaped or wrong-valued array."""
    import numpy as np

    from play_bq_gcp_spark.operators import multimodal

    img = (np.arange(w * h, dtype=np.uint8).reshape(h, w) * 7) % 256
    payload = multimodal.encode_bmp(img, bits=bits)
    trunc = payload[: max(2, int(len(payload) * cut))]
    try:
        out = multimodal.decode_bmp(trunc)
    except Exception:
        return  # loud failure is the contract
    assert out.shape == (h, w) and (out == img).all()


@given(
    n=st.integers(min_value=1, max_value=4),
    side=st.integers(min_value=1, max_value=8),
    cut=st.floats(min_value=0.0, max_value=0.99),
)
@settings(max_examples=40, deadline=None)
def test_avi_decode_never_silently_wrong(n, side, cut):
    """Truncated AVI payloads either raise or decode to a PREFIX of the
    original frame stack with every decoded frame bit-exact — dropped
    trailing frames are acceptable (the chunk walk stops at the cut),
    corrupted pixels are not."""
    import numpy as np

    from play_bq_gcp_spark.operators import multimodal

    frames = (
        np.arange(n * side * side, dtype=np.uint8).reshape(n, side, side) * 5
    ) % 256
    payload = multimodal.encode_avi(frames)
    trunc = payload[: max(2, int(len(payload) * cut))]
    try:
        out = multimodal.decode_avi(trunc)
    except Exception:
        return
    assert out.shape[0] <= n and out.shape[1:] == (side, side)
    assert (out == frames[: out.shape[0]]).all()


# --- BPE trainer vs pure-Python reference ----------------------------------

def _py_bpe_train(texts, n_merges, min_count=2, eow="▁"):
    """Classic Sennrich BPE on the word-freq table, pinned to the Spark
    implementation's choices: overlapping pair counts, argmax ties on
    (count DESC, pair ASC), left-greedy merge application."""
    freq = {}
    for t in texts:
        for w in t.split():
            if w:
                freq[w] = freq.get(w, 0) + 1
    words = {w: list(w) + [eow] for w in freq}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b) = best[0]
        merges.append((a, b))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


_bpe_texts = st.lists(
    st.lists(
        st.sampled_from(
            ["low", "lower", "lowest", "new", "newer", "ab", "abab", "aaa"]
        ),
        min_size=1,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=5,
)


@given(texts=_bpe_texts, n_merges=st.integers(min_value=0, max_value=12))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_matches_python_reference(spark, texts, n_merges):
    """The distributed trainer must learn the IDENTICAL ordered merge
    list as the naive reference for any corpus and merge budget —
    overlap counting, tie-breaks, and left-greedy application all
    pinned (the rolling-fingerprint precedent)."""
    from play_bq_gcp_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = bpe_train(df, n_merges=n_merges, checkpoint_every=3)
    assert got == _py_bpe_train(texts, n_merges)


def test_bpe_encode_stats_hand_check(spark):
    """Encoding under a known merge table: 'low low lower' with merges
    building 'low▁' gives 2 single-token words + 'lower' in pieces;
    unseen characters fall back to char-level symbols."""
    from play_bq_gcp_spark.operators.bpe import bpe_encode_stats, bpe_train

    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "xyz")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=6)
    out = {r.doc_id: r for r in bpe_encode_stats(df, merges).collect()}
    # 'low' fully merged to one token incl. the end marker
    assert out[1].n_tokens_bpe < out[1].n_symbols_char
    # 'xyz' never seen adjacent pairs >= 2 → stays char-level: x y z ▁
    assert out[2].n_tokens_bpe == 4 and out[2].n_symbols_char == 4
    assert out[2].compression == 1.0


wsample_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),   # doc_id
        st.integers(min_value=0, max_value=500),      # weight (0 allowed)
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(data=wsample_rows, k=st.integers(min_value=1, max_value=12))
@settings(**_SETTINGS)
def test_weighted_systematic_matches_python_model(spark, data, k):
    """The block-decomposed Spark sampler equals the naive sequential
    model: lay weights end-to-end in id order, select each row whose
    interval crosses a grid multiple of W/k.  Also: zero-weight rows
    are never selected, any row with w >= W/k always is, and exactly
    min(k, crossable) slots are covered."""
    from play_bq_gcp_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    total = sum(w for _, w in data)
    if total == 0:
        return  # degenerate: no mass to sample
    df = spark.createDataFrame(data, "doc_id long, n_chars long")
    got = [
        (r.doc_id, r.slot)
        for r in weighted_systematic_sample(df, k=k).collect()
    ]

    cum, want = 0, []
    for doc_id, w in sorted(data):
        before = cum
        cum += w
        if (cum * k) // total > (before * k) // total:
            want.append((doc_id, (before * k) // total))
    assert got == want
    chosen = {d for d, _ in got}
    for doc_id, w in data:
        if w == 0:
            assert doc_id not in chosen
        if w * k >= total:
            assert doc_id in chosen


tb_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=999),
        st.lists(
            st.sampled_from("a b c d e f g h i j".split()),
            min_size=1,
            max_size=8,
        ),
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


@given(docs=tb_docs)
@settings(**_SETTINGS)
def test_token_budget_select_matches_python_model(spark, docs):
    """The threshold-decomposed selection equals the naive greedy:
    rank by (distinct-token score desc, id), take while tokens-so-far
    < total//2, keep the straddler."""
    from play_bq_gcp_spark.operators.curation import token_budget_select

    rows = [(i, " ".join(toks)) for i, toks in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.doc_id, r.score, r.n_tokens, r.cum_tokens)
        for r in token_budget_select(df).collect()
    ]

    ranked = sorted(
        ((i, len(t), len(set(t))) for i, t in docs),
        key=lambda x: (-x[2], x[0]),
    )
    total = sum(n for _, n, _ in ranked)
    budget = total // 2
    want, cum = [], 0
    for i, n, s in ranked:
        if cum < budget:
            want.append((i, s, n, cum + n))
        cum += n
    assert got == want


spectral_samples = st.lists(
    st.integers(min_value=-128, max_value=127),
    min_size=32,
    max_size=160,
)


@given(samples=spectral_samples)
@settings(**_SETTINGS)
def test_audio_spectral_exact_matches_python_model(spark, samples):
    """The distributed fixed-point DFT fingerprint equals a pure-Python
    replay of the same integer arithmetic: per full 32-sample frame,
    re/im against the shared tick tables, exact energies, argmin-tied
    peak bin, positional 17^frame fold.  Any op-order or overflow slip
    in the Spark expression tree breaks this on random inputs."""
    from play_bq_gcp_spark.operators.multimodal import (
        SPECTRAL_FRAMES,
        SPECTRAL_TABLE,
        SPECTRAL_WINDOW,
        audio_spectral_exact,
        encode_wav,
    )

    w, nfr = SPECTRAL_WINDOW, SPECTRAL_FRAMES
    cos = {(i, k): c for i, k, c, _ in SPECTRAL_TABLE}
    sin = {(i, k): s for i, k, _, s in SPECTRAL_TABLE}

    usable = min(len(samples) - len(samples) % w, w * nfr)
    peaks = []
    for f in range(usable // w):
        frame = samples[f * w : (f + 1) * w]
        best = None
        for k in range(1, 9):
            re = sum(s * cos[(i, k)] for i, s in enumerate(frame))
            im = sum(s * sin[(i, k)] for i, s in enumerate(frame))
            e = re * re + im * im
            if best is None or e > best[0]:
                best = (e, k)
        peaks.append(best[1])
    want_fp = sum(b * 17**f for f, b in enumerate(peaks))

    payload = encode_wav([s << 8 for s in samples], 16000, 1)
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    out = audio_spectral_exact(df).collect()
    if not peaks:
        assert out == []
    else:
        assert len(out) == 1
        assert out[0].n_frames_fp == len(peaks)
        assert out[0].fp_exact == want_fp


# --- exact integer-tick money arithmetic (round 9) -------------------------

money_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000_000),  # price cents
        st.integers(min_value=0, max_value=10),          # discount pct
        st.integers(min_value=0, max_value=8),           # tax pct
        st.integers(min_value=1, max_value=50),          # quantity
        st.sampled_from(["A", "N", "R"]),                # group key
    ),
    min_size=1,
    max_size=40,
)


@given(rows=money_rows)
@settings(**_SETTINGS)
def test_pricing_summary_matches_fraction_reference(spark, rows):
    """The whole q1 tick pipeline — per-row tick derivation, grouped
    sums, half-up cent and 6-dp average roundings — must equal a pure
    Fraction reference computed from the DECIMAL values the 2-dp
    doubles encode, for BOTH exact modes.  This pins the arithmetic
    identities (floor((2kS+n)/(2n)) forms) against any future edit,
    independent of fixtures and of either engine's float rules."""
    import datetime as dt
    from fractions import Fraction

    from play_bq_gcp_spark.operators.aggregates import pricing_summary

    data = [
        (
            g,
            "F",
            float(q),
            c / 100.0,
            d / 100.0,
            t / 100.0,
            dt.datetime(2000, 1, 1),
        )
        for c, d, t, q, g in rows
    ]
    li = spark.createDataFrame(
        data,
        "l_returnflag string, l_linestatus string, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, "
        "l_shipdate timestamp",
    )

    def half_up(x: Fraction) -> int:
        # round half AWAY from zero for non-negative rationals
        return int(x + Fraction(1, 2)) if x >= 0 else -int(-x + Fraction(1, 2))

    want = {}
    for flag in {g for *_xs, g in rows}:
        grp = [(c, d, t, q) for c, d, t, q, g in rows if g == flag]
        n = len(grp)
        sq = sum(q for *_x, q in grp)
        sp = sum(c for c, *_x in grp)
        sr = sum(Fraction(c * (100 - d), 100) for c, d, *_x in grp)  # cents
        sc = sum(
            Fraction(c * (100 - d) * (100 + t), 10000) for c, d, t, _q in grp
        )
        want[flag] = (
            float(sq),
            sp / 100.0,
            half_up(sr) / 100.0,
            half_up(sc) / 100.0,
            half_up(Fraction(sq * 10**6, n)) / 1e6,
            half_up(Fraction(sp * 10**4, n)) / 1e6,
            half_up(Fraction(sum(d for _c, d, *_x in grp) * 10**4, n)) / 1e6,
            n,
        )
    for mode in ("long_guarded", "decimal"):
        got = {
            r.l_returnflag: (
                r.sum_qty,
                r.sum_base_price,
                r.sum_disc_price,
                r.sum_charge,
                r.avg_qty,
                r.avg_price,
                r.avg_disc,
                r.count_order,
            )
            for r in pricing_summary(li, exact_mode=mode).collect()
        }
        assert got == want, (mode, got, want)


nullable_measure_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.one_of(st.none(), st.integers(min_value=0, max_value=10**9)),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=nullable_measure_rows)
@settings(**_SETTINGS)
def test_half_up_micro_avg_null_safe_denominator(spark, rows):
    """half_up_micro_avg with a count(col) denominator equals exact
    half-up round(AVG(col), 6) on a NULL-BEARING measure — sum() skips
    the NULL rows the count(col) denominator excludes, and an all-NULL
    group yields NULL exactly like AVG instead of an ANSI division by
    zero (r10 verdict ask #5)."""
    from fractions import Fraction

    from play_bq_gcp_spark.functions.money import half_up_micro_avg

    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r.g: r.avg6
        for r in df.groupBy("g")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"))
        .select(
            "g", (half_up_micro_avg("s", "n", 1) / 1e6).alias("avg6")
        )
        .collect()
    }

    def half_up(x: Fraction) -> int:
        return int(x + Fraction(1, 2))

    for g in {g for g, _v in rows}:
        vals = [v for gg, v in rows if gg == g and v is not None]
        if not vals:
            assert out[g] is None, (g, out[g])
        else:
            want = half_up(Fraction(sum(vals) * 10**6, len(vals))) / 1e6
            assert out[g] == want, (g, out[g], want)


# ---------------------------------------------------------------------------
# r13 additions: span-level ExactSubstr dedup vs a pure-Python reference,
# and DSIR selection's exact-integer skeleton vs a hashlib/math model.
# ---------------------------------------------------------------------------

span_corpora = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


def _ref_span_profile(texts, W, min_count):
    """Pure-Python model of duplicate_span_profile (the hypothesis
    oracle — O(n²) clarity over speed)."""
    import hashlib
    from collections import Counter

    toks = {d: t.split(" ") for d, t in enumerate(texts)}
    wins = [
        (d, i, " ".join(ts[i : i + W]))
        for d, ts in toks.items()
        for i in range(len(ts) - W + 1)
    ]
    freq = Counter(w for _, _, w in wins)
    dup = {w for w, n in freq.items() if n >= min_count}
    out = {}
    for d, ts in toks.items():
        occ = [(i) for dd, i, w in wins if dd == d and w in dup]
        cov = sorted({p for i in occ for p in range(i, i + W)})
        spans = sum(
            1 for j, p in enumerate(cov) if j == 0 or p - cov[j - 1] > 1
        )
        kept = [t for p, t in enumerate(ts) if p not in set(cov)]
        out[d] = (
            len(ts),
            len(occ),
            len(cov),
            spans,
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


@given(
    texts=span_corpora,
    w=st.integers(min_value=2, max_value=4),
    mc=st.integers(min_value=2, max_value=3),
)
@settings(**_SETTINGS)
def test_duplicate_span_profile_matches_python_reference(spark, texts, w, mc):
    """Every output column of duplicate_span_profile — counts, island
    structure, and the rebuilt-text fingerprint — equals a brute-force
    Python model on random tiny-alphabet corpora (the tiny alphabet
    forces heavy window collisions the hand cases can't enumerate)."""
    from play_bq_gcp_spark.operators.dedup import duplicate_span_profile

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.n_tokens,
            r.dup_windows,
            r.covered_tokens,
            r.span_count,
            r.kept_tokens,
            r.kept_fp,
        )
        for r in duplicate_span_profile(df, window=w, min_count=mc).collect()
    }
    assert got == _ref_span_profile(texts, w, mc)


dsir_corpora = st.lists(
    st.tuples(
        st.booleans(),  # is-target
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=0,
            max_size=8,
        ).map(" ".join),
    ),
    min_size=1,
    max_size=10,
)


@given(corpus=dsir_corpora)
@settings(**_SETTINGS)
def test_dsir_select_matches_python_model_within_libm_tolerance(
    spark, corpus
):
    """dsir_select's selected set, n_tokens, and scores equal a
    hashlib/math.log Python model.  Scores allow ±1 nano per token
    (JVM vs CPython libm may differ in the last ulp before the floor;
    every integer-exact part must match exactly)."""
    import hashlib
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from play_bq_gcp_spark.operators.curation import dsir_select

    B, K, S = 64, 5, 1
    rows = [
        (i, "en" if t else "fr", txt) for i, (t, txt) in enumerate(corpus)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = dsir_select(
        df, target=F.col("lang") == "en", n_buckets=B, k=K, smoothing=S
    ).collect()

    def bkt(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[6:9], 16) % B

    t_cnt, r_cnt = Counter(), Counter()
    pool = {}
    for i, (is_t, txt) in enumerate(corpus):
        toks = [t for t in txt.split(" ") if t]
        for t in toks:
            (t_cnt if is_t else r_cnt)[bkt(t)] += 1
        if not is_t and toks:
            pool[i] = toks
    tt, rt = sum(t_cnt.values()), sum(r_cnt.values())
    w = {
        b: math.floor(
            1e9
            * math.log(
                ((t_cnt[b] + S) / (tt + S * B))
                / ((r_cnt[b] + S) / (rt + S * B))
            )
        )
        for b in set(t_cnt) | set(r_cnt)
    }
    scores = {
        d: sum(w[bkt(t)] for t in toks) for d, toks in pool.items()
    }
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:K]

    assert [r.doc_id for r in got] == [d for d, _ in want]
    assert [r.rank for r in got] == list(range(1, len(want) + 1))
    for r in got:
        assert r.n_tokens == len(pool[r.doc_id])
        assert abs(r.score_nanos - scores[r.doc_id]) <= r.n_tokens
