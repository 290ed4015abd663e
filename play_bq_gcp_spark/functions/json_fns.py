"""JSON / semi-structured functions (SURVEY.md §2.7 'JSON/array/map').

The reference's only nested access happens in Python before
DataFrame-ization (/root/reference/main.py:319-320); the engine exposes
the full Spark surface over the ``events.props`` JSON column:
path extraction (``get_json_object``), schema-full parsing
(``from_json``), and map explosion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T


def json_get(col: Column | str, path: str) -> Column:
    """Extract one JSON path as string (JVM-side Jackson, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}")


def explode_json_map(df: DataFrame, col: str = "props") -> DataFrame:
    """JSON object → exploded (key, value) rows via MapType parse."""
    m = F.from_json(F.col(col), T.MapType(T.StringType(), T.StringType()))
    return df.select("*", F.explode(m).alias("json_key", "json_value"))
