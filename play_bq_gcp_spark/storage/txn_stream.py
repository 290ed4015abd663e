"""Streaming source over transactional tables (§2.8 × §4.3-1): tail a
txn table's commit log as a Structured Streaming source.

The manifest log IS a changelog: version numbers are a total order of
commits, every commit lists exactly the files it added, and files are
immutable — which makes table versions perfect streaming offsets (the
same design as the public Delta/Iceberg streaming sources).  Each
micro-batch reads the data files added by versions (start, end]; a
recovery replays from the checkpointed version, so the source is
exactly-once end-to-end when paired with a batch-id-tagged sink such
as ``streaming/txn_sink.exactly_once_merge``.

Spark 4 Python Data Source streaming API — the FULL
``DataSourceStreamReader``: the driver only plans (``latestOffset`` +
``partitions`` map added files to input partitions), and each file is
read ON AN EXECUTOR as its own partition, so a commit of a thousand
files fans out as a thousand parallel tasks with zero driver
materialization.

Usage::

    spark.dataSource.register(TxnTableStreamSource)
    stream = (spark.readStream.format("txn_table_stream")
              .option("path", table_path).load())

Overwrite/delete commits REPLACE files rather than append; a pure
changelog cannot represent them (the public formats fail the stream
there too unless told to ignore changes).  Compaction (byte rewrite,
same data) is transparently skipped.  Policy via option
``on_replace``: ``error`` (default, loud) or ``skip`` (appends only —
removals are not retracted).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from play_bq_gcp_spark.storage import txn_table as tt


class _FilePartition(InputPartition):
    def __init__(self, abs_path: str) -> None:
        self.abs_path = abs_path


class TxnTableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema=None) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("txn_table_stream requires .option('path', dir)")
        self.path = path
        self.on_replace = options.get("on_replace", "error")
        # declared column order for name-aligned reads (None = legacy
        # positional behavior on schema-less tables)
        self.col_names = (
            [f.name for f in schema.fields] if schema is not None else None
        )

    def initialOffset(self) -> dict:
        """Start of stream = version 0 (the empty create): the first
        batch delivers every row ever appended."""
        return {"version": 0}

    def latestOffset(self) -> dict:
        return {"version": tt.current_version(self.path)}

    def _files_between(self, start_v: int, end_v: int) -> list[str]:
        """Data files added by commits in (start_v, end_v]."""
        files: list[str] = []
        prev: set[str] = set(tt.snapshot(self.path, start_v).files)
        for v in range(start_v + 1, end_v + 1):
            snap = tt.snapshot(self.path, v)
            cur = set(snap.files)
            removed = prev - cur
            if removed and snap.action != "compact":
                # compaction rewrites bytes without changing data — safe
                # to skip entirely; other replacements lose rows from a
                # pure append changelog
                if self.on_replace == "error":
                    raise RuntimeError(
                        f"version {v} ({snap.action}) replaced "
                        f"{len(removed)} file(s); an append changelog "
                        "cannot represent it — set on_replace=skip to "
                        "stream appends only"
                    )
            if snap.action != "compact":
                files.extend(sorted(cur - prev))
            prev = cur
        return files

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """Driver-side planning only: one input partition per file
        added in (start, end] — a large commit fans out across the
        cluster instead of through the driver."""
        files = self._files_between(int(start["version"]), int(end["version"]))
        return [_FilePartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        """Executor-side: stream one immutable data file's rows,
        aligned BY NAME to the source's declared schema — a file
        written before a schema evolution lacks the added columns
        (yield None there) and may carry narrower ints (Spark casts by
        the declared field type); positional zipping would mis-bind or
        crash the micro-batch the moment file generations mix (r13
        review)."""
        import pyarrow.parquet as pq

        table = pq.read_table(partition.abs_path)
        for batch in table.to_batches():
            if self.col_names is None:
                cols = [
                    batch.column(i).to_pylist()
                    for i in range(batch.num_columns)
                ]
            else:
                present = set(batch.schema.names)
                cols = [
                    batch.column(n).to_pylist()
                    if n in present
                    else [None] * batch.num_rows
                    for n in self.col_names
                ]
            yield from zip(*cols)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: offsets are table versions


class TxnTableStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txn_table_stream"

    def schema(self) -> str:
        """Schema = the manifest's DECLARED schema when present (the
        schema of record — stable across evolution boundaries, r13),
        else inferred from one data-file footer (legacy pre-r13
        tables, metadata-only read)."""
        from pyspark.sql.types import StructType

        snap = tt.snapshot(self.options["path"])
        if snap.schema is not None:
            return StructType.fromJson(snap.schema)
        import pyarrow.parquet as pq

        if not snap.files:
            raise ValueError(
                "txn_table_stream needs a declared schema or at least "
                "one committed data file to infer one"
            )
        schema = pq.read_schema(
            os.path.join(self.options["path"], snap.files[0])
        )
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(schema)

    def streamReader(self, schema) -> TxnTableStreamReader:
        return TxnTableStreamReader(self.options, schema=schema)
