"""Crash-injection fuzz of the txn_table commit protocol.

The streaming index protocols have a kill-and-retry campaign
(``tools/fuzz_stream.py``); this is the transactional table's twin,
covering the surface round 13 extended (time travel, restore, vacuum
horizons) under randomized crash schedules.

Each randomized op (append / evolving append — the r13 declared-schema
evolution path, a new column whose absence must read back as NULL at
the live head AND through every time-travel/restore/compaction
combination / overwrite / delete_where / compact / restore / vacuum)
runs with the table's ``CommitStrategy`` wrapped in a one-shot crash
injector armed at one of two points:

* ``pre``  — raise BEFORE ``create_exclusive``: data files are already
  landed, the manifest is not — the orphan-file crash.  The table must
  be bit-identical to before the op, and the orphans must never leak
  into any read.
* ``post`` — raise AFTER ``create_exclusive`` returned True: the commit
  is durable but the writer died before returning — the torn-init
  crash.  The table must show the op applied exactly once.

After EVERY attempt the harness re-derives truth from disk
(``current_version``) — it never trusts the writer's outcome — and
checks (1) the crash mode implied exactly the observed commit/no-commit,
(2) the full ``read()`` equals an in-memory model updated only on
observed commits, (3) a sampled ``read_at(v)`` equals the recorded
model state at v (snapshot isolation across later writes, restores and
compactions), (4) every manifest on disk parses as complete JSON (no
torn manifests), and (5) after ``vacuum(keep)``, every version inside
the kept horizon still reads exactly its recorded state.

Usage: python tools/fuzz_txn.py SEED [SEED...]   (default seeds 400-402)
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class InjectedCrash(RuntimeError):
    pass


class CrashingStrategy:
    """One-shot crash wrapper around the real commit strategy."""

    def __init__(self, inner):
        self.inner = inner
        self.mode = None

    def arm(self, mode: str | None) -> None:
        self.mode = mode

    def create_exclusive(self, target: str, payload: bytes) -> bool:
        mode, self.mode = self.mode, None
        if mode == "pre":
            raise InjectedCrash("pre-commit crash (data landed, no manifest)")
        ok = self.inner.create_exclusive(target, payload)
        if mode == "post" and ok:
            raise InjectedCrash("post-commit crash (manifest durable)")
        return ok


def _rows(df):
    """Schema-insensitive row image: (col -> value) over whatever
    columns the read surfaced, sorted — so evolving appends compare
    naturally (absent columns are NULL-backfilled by the engine and
    None in the model)."""
    cols = df.columns
    return sorted(
        (tuple((c, r[c]) for c in sorted(cols)) for r in df.collect()),
        key=_none_safe_key,
    )


def _none_safe_key(row):
    # NULL-backfilled values sort against ints otherwise
    return tuple((c, v is not None, v) for c, v in row)


def run_seed(spark, seed: int, n_ops: int = 25) -> None:
    from play_bq_gcp_spark.storage import txn_table as tt

    rng = random.Random(seed)
    root = tempfile.mkdtemp(prefix=f"fuzz_txn_{seed}_")
    path = os.path.join(root, "t")
    strat = CrashingStrategy(tt.PosixExclusiveCreate())
    try:
        tt.init_table(path)
        tt.set_commit_strategy(path, strat)

        def batch(n):
            return spark.createDataFrame(
                [(rng.randrange(100), rng.randrange(1000)) for _ in range(n)],
                "id int, val long",
            )

        def batch_evolved(n):
            # the r13 declared-schema evolution path: a NEW column; old
            # rows must read back NULL-backfilled through the merged
            # declared schema, at the live head AND via time travel
            return spark.createDataFrame(
                [
                    (rng.randrange(100), rng.randrange(1000),
                     rng.randrange(50))
                    for _ in range(n)
                ],
                "id int, val long, extra int",
            )

        # model rows are dicts; cols is the DECLARED column set so the
        # model can NULL-backfill exactly like the merged-schema read
        model: list[dict] = []
        cols: set[str] = set()

        def img(rows, cs):
            return sorted(
                (
                    tuple((c, r.get(c)) for c in sorted(cs))
                    for r in rows
                ),
                key=_none_safe_key,
            )

        # v0 is the schema-less empty genesis — read_at(0) legitimately
        # raises, so it never enters the sampled/restorable history
        history: dict[int, tuple[set, list]] = {}

        def check(tag: str) -> None:
            if tt.current_version(path) == 0:
                # the first append crashed before its commit: the table
                # is still the schema-less genesis, whose read raises
                try:
                    tt.read(spark, path)
                except ValueError:
                    pass
                else:
                    raise AssertionError(
                        f"seed={seed} {tag}: genesis read did not raise"
                    )
            else:
                assert _rows(tt.read(spark, path)) == img(model, cols), (
                    f"seed={seed} {tag}: live read != model"
                )
            if history:
                v = rng.choice(sorted(history))
                hc, hr = history[v]
                assert _rows(
                    tt.read_at(spark, path, version=v)
                ) == img(hr, hc), (
                    f"seed={seed} {tag}: read_at({v}) != recorded state"
                )
            vd = tt._versions_dir(path)
            for m in os.listdir(vd):
                with open(os.path.join(vd, m)) as f:
                    json.load(f)  # torn manifest -> raises

        for i in range(n_ops):
            op = rng.choices(
                ["append", "evolve", "overwrite", "delete", "compact",
                 "restore", "vacuum"],
                weights=[27, 10, 14, 14, 12, 13, 10],
            )[0]
            if tt.current_version(path) == 0:
                # genesis has no declared schema: delete/compact/restore
                # against it are the engine's own documented errors, not
                # crash-protocol surface — establish the schema first
                op = "append"
            mode = rng.choices([None, "pre", "post"], weights=[60, 20, 20])[0]
            v0 = tt.current_version(path)
            crashed = False
            new_model, new_cols = None, None
            try:
                if op == "append":
                    b = batch(rng.randint(1, 6))
                    new_model = model + [
                        {"id": r.id, "val": r.val} for r in b.collect()
                    ]
                    new_cols = cols | {"id", "val"}
                    strat.arm(mode)
                    tt.append(b, path, evolve=not cols)
                elif op == "evolve":
                    b = batch_evolved(rng.randint(1, 6))
                    new_model = model + [
                        {"id": r.id, "val": r.val, "extra": r.extra}
                        for r in b.collect()
                    ]
                    new_cols = cols | {"id", "val", "extra"}
                    strat.arm(mode)
                    tt.append(b, path, evolve=True)
                elif op == "overwrite":
                    b = batch(rng.randint(1, 6))
                    new_model = [
                        {"id": r.id, "val": r.val} for r in b.collect()
                    ]
                    new_cols = {"id", "val"}  # replace resets the schema
                    strat.arm(mode)
                    tt.overwrite(b, path)
                elif op == "delete":
                    m = rng.randint(2, 5)
                    r = rng.randrange(m)
                    new_model = [d for d in model if d["id"] % m != r]
                    new_cols = set(cols)
                    strat.arm(mode)
                    tt.delete_where(spark, path, f"id % {m} = {r}")
                elif op == "compact":
                    if not tt.snapshot(path).files and tt.snapshot(
                        path
                    ).schema is None:
                        continue
                    # compaction rewrites through the declared schema:
                    # NULL backfill MATERIALIZES into the new files
                    new_model = [
                        {c: d.get(c) for c in cols} for d in model
                    ]
                    new_cols = set(cols)
                    strat.arm(mode)
                    tt.compact(spark, path, target_files=rng.randint(1, 2))
                elif op == "restore":
                    if not history:
                        continue
                    v = rng.choice(sorted(history))
                    hc, hr = history[v]
                    new_model, new_cols = list(hr), set(hc)
                    strat.arm(mode)
                    tt.restore(path, v)
                else:  # vacuum — no commit, crash modes not applicable
                    keep = rng.randint(1, 3)
                    tt.vacuum(path, keep_versions=keep)
                    latest = tt.current_version(path)
                    cutoff = max(0, latest - keep + 1)
                    history = {
                        v: s for v, s in history.items() if v >= cutoff
                    }
                    for v in sorted(history):
                        hc, hr = history[v]
                        assert _rows(
                            tt.read_at(spark, path, version=v)
                        ) == img(hr, hc), (
                            f"seed={seed} op{i}: post-vacuum read_at({v})"
                        )
                    check(f"op{i}:vacuum")
                    continue
            except InjectedCrash:
                crashed = True
            finally:
                strat.arm(None)

            v1 = tt.current_version(path)
            if mode == "pre":
                assert crashed and v1 == v0, (
                    f"seed={seed} op{i}:{op} pre-crash but version moved"
                )
            else:
                # mode None commits; mode post commits then crashes
                assert v1 == v0 + 1 and crashed == (mode == "post"), (
                    f"seed={seed} op{i}:{op} mode={mode} v {v0}->{v1} "
                    f"crashed={crashed}"
                )
                model, cols = new_model, new_cols
                history[v1] = (set(cols), list(model))
            check(f"op{i}:{op}:{mode}")
        print(f"ok   seed={seed} txn ({n_ops} ops, "
              f"{tt.current_version(path)} versions)")
    finally:
        tt.set_commit_strategy(path, None)
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    from play_bq_gcp_spark.session import get_spark

    seeds = [int(s) for s in sys.argv[1:]] or [400, 401, 402]
    spark = get_spark(app_name="fuzz_txn", shuffle_partitions=4)
    for s in seeds:
        run_seed(spark, s)
    print("all clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
