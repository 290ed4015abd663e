"""Spark 4 Python Data Source for the paged external-API scan
(SURVEY.md §1.1, §2.1 S1).

The reference pulls API pages in a driver-side loop
(/root/reference/main.py:85-91).  ``scan_records`` (rest_api.py)
mirrors that shape; THIS module is the scale path: a registered
``DataSource`` whose reader splits the page range into contiguous
groups of at most ``BURST`` pages, one group per input partition, so a
1000-page scan runs as 200 parallel tasks with no driver
materialization.  Each task fetches its pages in order through the
full HTTP seam (sources/http_client.py: injected transport,
token-bucket rate limit, bounded retries with deterministic jitter);
this container has no network, so the TRANSPORT is a deterministic
fake keyed by (seed, page, row) — the client machinery, partitioning,
schema, and option plumbing are the real thing, and a deployment swaps
in ``UrllibTransport`` only.

Why groups and not one page per task: a Python task costs far more to
start than a page costs to fetch and parse (SCALING.md round 15), and
the source's partition count carries into every later stage of the
daily cycle and into the files each write lands.  Why ``BURST``: the
task's token bucket starts full, so the first attempts at up to
``BURST`` pages never wait for a token — grouping slows no fetch —
while a retry beyond the burst is paced at the bucket's rate.  The
bucket is per task, so the cluster-wide first-attempt rate is
``RATE`` × concurrent tasks; fewer tasks lower that peak.

Usage::

    spark.dataSource.register(GameSnapshotDataSource)
    df = (spark.read.format("game_snapshot")
          .option("pages", 8).option("page_size", 250).load())
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

# Column layout of one title-stats record (main.py:91's projection).
_SCHEMA_DDL = (
    "title_id string, title_name string, image string, category string, "
    "first_played_date_time timestamp, last_played_date_time timestamp, "
    "play_count bigint, play_duration_seconds double"
)


# Per-task client pacing: requests/sec and the token bucket's burst.
# BURST is also the most pages one input partition fetches.
RATE = 10.0
BURST = 5


class _PagePartition(InputPartition):
    def __init__(self, pages: range, page_size: int, seed: int) -> None:
        self.pages = pages
        self.page_size = page_size
        self.seed = seed


def _page_partitions(
    start: int, end: int, page_size: int, seed: int
) -> list[_PagePartition]:
    """Pages ``[start, end)`` as ``ceil(n / BURST)`` contiguous ranges
    whose sizes differ by at most one."""
    n = end - start
    if n <= 0:
        return []
    groups = -(-n // BURST)
    cuts = [start + n * g // groups for g in range(groups + 1)]
    return [
        _PagePartition(range(a, b), page_size, seed)
        for a, b in zip(cuts, cuts[1:])
    ]


class _FakePsnTransport:
    """Offline stand-in for the API host: serves one JSON page per URL,
    deterministically derived from (seed, page, row).  Every third page
    fails its FIRST delivery with a 503 + Retry-After so the retry
    machinery stays exercised on the actual data path, not just in unit
    tests (the zero-cost sleeper keeps that free).  A deployment swaps
    this single object for ``UrllibTransport`` — nothing else changes."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self._failed_once: set[str] = set()

    def send(self, request):
        import json
        import re

        from play_bq_gcp_spark.sources.http_client import Response

        m = re.search(r"page=(\d+)&size=(\d+)", request.url)
        page, size = int(m.group(1)), int(m.group(2))
        if page % 3 == 1 and request.url not in self._failed_once:
            self._failed_once.add(request.url)
            return Response(503, b"", {"Retry-After": "0"})
        base_h = 0  # hours offset of 2024-01-01T00:00Z, the epoch below
        titles = []
        for i in range(size):
            n = page * size + i
            h = (n * 2654435761 + self.seed) % (1 << 31)
            first_h = base_h + h % 8760
            titles.append(
                {
                    "title_id": f"CUSA{n:05d}_00",
                    "title_name": f"Game {n}",
                    "image": f"https://img.example/{n}.png",
                    "category": f"ps4_game_{h % 7}",
                    "first_played_hours": first_h,
                    "last_played_hours": first_h + (h >> 3) % 2000,
                    "play_count": (h % 500) + 1,
                    "play_duration_seconds": float((h % 360000) + 60),
                }
            )
        return Response(200, json.dumps({"titles": titles}).encode())


class GameSnapshotReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.pages = int(options.get("pages", 4))
        self.page_size = int(options.get("page_size", 100))
        self.seed = int(options.get("seed", 7))

    def partitions(self) -> Sequence[InputPartition]:
        return _page_partitions(0, self.pages, self.page_size, self.seed)

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        """Up to ``BURST`` API pages → one task, fetched through the
        full HTTP seam (``_read_pages``), exactly as a deployment would
        run it — only the transport is the offline fake.  The
        task-local client means cluster-wide request rate = ``RATE`` ×
        concurrent tasks."""
        return _read_pages(partition)


def _read_pages(partition: _PagePartition) -> Iterator[tuple]:
    """One task's page range, fetched in order through one per-task
    RestClient with a token bucket and bounded retries over the offline
    transport (shared by the batch and streaming readers — the seam is
    identical in both cadences).  The bucket keeps its real sleeper: a
    retry beyond the burst waits for its token."""
    import datetime as dt

    from play_bq_gcp_spark.sources.http_client import (
        RestClient,
        TokenBucket,
    )

    client = RestClient(
        transport=_FakePsnTransport(partition.seed),
        bucket=TokenBucket(rate=RATE, burst=BURST),
        max_attempts=3,
        sleeper=lambda s: None,  # offline fake sends Retry-After: 0
    )
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for page in partition.pages:
        url = (
            "https://api.example/v1/titles"
            f"?page={page}&size={partition.page_size}"
        )
        for t in client.get(url).json()["titles"]:
            yield (
                t["title_id"],
                t["title_name"],
                t["image"],
                t["category"],
                base + dt.timedelta(hours=t["first_played_hours"]),
                base + dt.timedelta(hours=t["last_played_hours"]),
                t["play_count"],
                t["play_duration_seconds"],
            )


class GameSnapshotStreamReader(DataSourceStreamReader):
    """Cursor-paged STREAMING ingest of the same feed (§2.1 × §2.8):
    offsets are page numbers — the persisted cursor a production
    pipeline keeps when tailing a paginated export endpoint.  Each
    poll "publishes" ``pages_per_batch`` more pages (the offline
    stand-in for new data appearing) up to ``total_pages``; a
    micro-batch reads exactly the pages between its start and end
    offsets, grouped into partitions of at most ``BURST`` pages like
    the batch reader's, through the same HTTP seam.  Exactly-once
    delivery falls out of Spark's offset log + deterministic page
    contents: a replayed batch re-reads the same pages and produces
    identical rows."""

    def __init__(self, options: dict) -> None:
        self.page_size = int(options.get("page_size", 100))
        self.seed = int(options.get("seed", 7))
        self.total_pages = int(options.get("total_pages", 4))
        self.pages_per_batch = int(options.get("pages_per_batch", 1))
        self._latest = 0

    def initialOffset(self) -> dict:
        return {"page": 0}

    def latestOffset(self) -> dict:
        self._latest = min(
            self._latest + self.pages_per_batch, self.total_pages
        )
        return {"page": self._latest}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return _page_partitions(
            start["page"], end["page"], self.page_size, self.seed
        )

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        return _read_pages(partition)

    def commit(self, end: dict) -> None:
        pass  # the cursor lives in Spark's offset log


class _FileCommit(WriterCommitMessage):
    """Per-task commit message: the staged file and its row count."""

    def __init__(self, staged: str, rows: int) -> None:
        self.staged = staged
        self.rows = rows


class GameSnapshotWriter(DataSourceWriter):
    """S5-shaped sink through the same DataSource: each task stages its
    partition as a JSON-lines file under ``path`` (standing in for the
    'POST one batch per partition' call a REST sink would make), and
    the driver-side ``commit`` publishes them atomically — rename away
    the staged prefix, then write a ``_MANIFEST.json`` listing
    (file, rows).  A failed/speculated task's ``abort`` deletes its
    stage, so readers keyed on the manifest never observe partial
    output — the standard two-phase commit shape every exactly-once
    Spark sink follows.  ``path`` must be shared storage on a real
    cluster (tasks and driver see the same filesystem)."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("game_snapshot writer requires .option('path', dir)")
        self.path = path

    def write(self, iterator) -> _FileCommit:
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(self.path, f"_staged_{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _FileCommit(staged, n)

    def commit(self, messages) -> None:
        import json
        import os

        manifest = []
        for m in messages:
            final = m.staged.replace("_staged_", "part_")
            os.rename(m.staged, final)
            manifest.append({"file": os.path.basename(final), "rows": m.rows})
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            json.dump(sorted(manifest, key=lambda e: e["file"]), f)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            try:
                os.remove(m.staged)
            except FileNotFoundError:
                pass


class GameSnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "game_snapshot"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def reader(self, schema) -> GameSnapshotReader:
        return GameSnapshotReader(self.options)

    def writer(self, schema, overwrite: bool) -> GameSnapshotWriter:
        return GameSnapshotWriter(self.options)

    def streamReader(self, schema) -> GameSnapshotStreamReader:
        return GameSnapshotStreamReader(self.options)
