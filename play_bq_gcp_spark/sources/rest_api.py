"""External-REST-API source adapter (SURVEY.md §2.1 S1/S2, §4.3-2).

The reference scans a paginated REST API (PSN title stats,
/root/reference/main.py:85-91) and a nested profile JSON document
(main.py:319-320).  This module holds the declared schemas of both
and the nested-document adapter; the paged scan itself is the Spark 4
DataSource in ``psn_datasource``, which fetches page groups in
parallel tasks through the ``http_client`` seam.
"""

from __future__ import annotations

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


def trophy_document(spark: SparkSession, doc: dict) -> DataFrame:
    """S2+F10: nested profile dict → one-row DataFrame, keys as columns
    (main.py:320-323's ``from_dict(...).T`` transpose)."""
    row = tuple(int(doc.get(f.name, 0)) for f in TROPHY_SCHEMA.fields)
    return spark.createDataFrame([row], TROPHY_SCHEMA)
