"""External-REST-API source adapter (SURVEY.md §2.1 S1/S2, §4.3-2).

The reference scans a paginated REST API (PSN title stats,
/root/reference/main.py:85-91) and a nested profile JSON document
(main.py:319-320).  The engine's adapter is a thin boundary: any
iterable of records + a declared schema becomes a DataFrame; the
network client is injected so tests substitute a deterministic fake.

At scale, a REST source is driver-bottlenecked by nature; the adapter
keeps the ingest honest by materializing straight into a distributed
DataFrame (the only driver-side loop is over API pages, mirroring the
reference).  For genuinely large external feeds, land to object
storage first and scan as files.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, types as T

# Schema of one raw title-stats record (main.py:91-93's projection P1/P2).
GAME_SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("title_id", T.StringType(), False),
        T.StructField("title_name", T.StringType(), True),
        T.StructField("image", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("first_played_date_time", T.TimestampType(), True),
        T.StructField("last_played_date_time", T.TimestampType(), True),
        T.StructField("play_count", T.LongType(), True),
        T.StructField("play_duration_seconds", T.DoubleType(), True),
    ]
)

# Trophy-summary document (main.py:319-320's nested dict).
TROPHY_SCHEMA = T.StructType(
    [
        T.StructField("bronze", T.LongType(), True),
        T.StructField("silver", T.LongType(), True),
        T.StructField("gold", T.LongType(), True),
        T.StructField("platinum", T.LongType(), True),
    ]
)


def scan_records(
    spark: SparkSession,
    fetch_pages: Callable[[], Iterable[list[tuple]]],
    schema: T.StructType,
) -> DataFrame:
    """S1: materialize a paged record iterator into a DataFrame.

    ``fetch_pages`` yields lists of row-tuples (one list per API page);
    the adapter concatenates pages driver-side — the same shape as the
    reference's ``for title in client.title_stats()`` loop — then hands
    Spark a single createDataFrame so everything downstream is lazy and
    distributed.
    """
    rows: list[tuple] = []
    for page in fetch_pages():
        rows.extend(page)
    return spark.createDataFrame(rows, schema)


def trophy_document(spark: SparkSession, doc: dict) -> DataFrame:
    """S2+F10: nested profile dict → one-row DataFrame, keys as columns
    (main.py:320-323's ``from_dict(...).T`` transpose)."""
    row = tuple(int(doc.get(f.name, 0)) for f in TROPHY_SCHEMA.fields)
    return spark.createDataFrame([row], TROPHY_SCHEMA)
