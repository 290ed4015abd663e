"""Guards for tools/compare.py's driver-canonicalizer fidelity.

Round 5's only driver red (``embedding_label_centroids``) was a raw
``ARRAY<BIGINT>`` output column: the driver's pandas canonicalizer
(``sort_values``/factorize) raises ``unhashable type: 'list'`` on list
cells, while compare.py happily compared the values and reported green.
These tests pin the fix: any top-level list/map/struct result column is
flagged loudly, so a local green actually implies a driver green.
"""

from __future__ import annotations

import pathlib
import sys

import pyarrow as pa

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

from compare import driver_unhashable_cols, rows_key  # noqa: E402


def test_list_column_is_flagged():
    tbl = pa.table(
        {
            "label": pa.array([1, 2]),
            "centroid_fp": pa.array([[1, 2], [3, 4]], type=pa.list_(pa.int64())),
        }
    )
    assert driver_unhashable_cols(tbl) == ["centroid_fp"]


def test_large_list_map_struct_flagged_scalars_pass():
    tbl = pa.table(
        {
            "s": pa.array(["a"]),
            "i": pa.array([1]),
            "f": pa.array([1.5]),
            "ll": pa.array([["x"]], type=pa.large_list(pa.string())),
            "m": pa.array(
                [[("k", 1)]], type=pa.map_(pa.string(), pa.int64())
            ),
            "st": pa.array([{"a": 1}], type=pa.struct([("a", pa.int64())])),
        }
    )
    assert driver_unhashable_cols(tbl) == ["ll", "m", "st"]


def test_scalar_only_table_is_clean():
    tbl = pa.table({"a": pa.array([1, 2]), "b": pa.array(["x", "y"])})
    assert driver_unhashable_cols(tbl) == []


def test_rows_key_is_order_insensitive_and_column_sorted():
    # Same logical rows presented in different row/column orders hash alike.
    k1 = rows_key(["b", "a"], [(2.0, "x"), (1.0, "y")])
    k2 = rows_key(["a", "b"], [("y", 1.0), ("x", 2.0)])
    assert k1 == k2
