"""Seeded input generators for the benchmark.

Two families, both a pure function of ``(seed, size)``:

* ``land_tables`` writes the ten fixture tables the query registry
  reads (``region`` ... ``embeddings``), one parquet file each, with
  the schemas and value shapes of the engine's fixture corpus
  (FIXTURES.md §A): TPC-H-like star schema, an ``events`` stream with
  every event type present, a word-vocabulary document corpus with a
  ~5 % near-duplicate and a small exact-duplicate share, and unit-norm
  64-dim embeddings clustered by label.
* ``daily_plan`` picks, from the ``game_snapshot`` DataSource's title
  range, which titles the daily template warehouse lacks (they become
  new games) and which it stores with lower play counters (they become
  deltas and dimension upserts).  The expected run stats follow from
  the plan alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

WORDS = (
    "batch sort value hash filter big data query row stream the spark "
    "line small fast group customer part column order scan a slow agg "
    "key window table merge vector join"
).split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
P_ADJ = ["hot", "old", "red", "small", "new", "large", "cold", "blue"]
P_NOUN = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the fixture
    corpus's own scaling: documents and embeddings have a floor)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def _documents(rng, n: int) -> list[str]:
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.05:
            # near-duplicate: an earlier document plus trailing marker(s)
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        elif i >= 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return texts


def build_tables(seed: int, sf: float) -> dict:
    """The ten fixture tables as pyarrow Tables."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    price = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.array(names)[rng.integers(0, len(names), npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": price,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": pa.array(
                _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
                pa.timestamp("us"),
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[partkey], 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    # sorted event times over 30 days; every event type occurs
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, ne))
    etype = rng.integers(0, 5, ne)
    etype[:5] = np.arange(5)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + offs.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[etype],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = _documents(rng, nd)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(0.0, 0.8, (nv, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(
                list(vec.astype("float32")), pa.list_(pa.float32())
            ),
            "label": pa.array(label, pa.int32()),
        }
    )
    return t


def land_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the fixture tables under ``out_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


NEW_SHARE = 0.02  # titles the template lacks: new games
LOWERED_SHARE = 0.10  # titles stored with lower counters: deltas, upserts


def daily_plan(seed: int, n_titles: int) -> dict:
    """Which snapshot rows (by title index ``n = page*page_size + row``)
    the template warehouse omits and which it stores with lower play
    counters.  The two sets are disjoint, so one daily run appends
    exactly ``len(missing)`` new games and ``len(lowered)`` deltas."""
    if n_titles > 99_999:
        # surrogate_key keeps 7 id digits; larger ranges can collide
        raise ValueError("n_titles must be at most 99,999")
    rng = np.random.default_rng(seed)
    order = rng.permutation(n_titles)
    n_new = max(1, int(round(n_titles * NEW_SHARE)))
    n_chg = max(1, int(round(n_titles * LOWERED_SHARE)))
    return {
        "missing": sorted(int(i) for i in order[:n_new]),
        "lowered": sorted(int(i) for i in order[n_new : n_new + n_chg]),
        "expected": {"new_games": n_new, "time_play": n_chg},
    }
