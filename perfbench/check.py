"""Output check: an order-independent typed row hash per DataFrame.

Each column is canonicalised by type before hashing, so a legitimate
change of partition count or fold order leaves the hash alone:
doubles and floats are printed to 9 significant digits (``-0.0``
folded into ``0.0``), decimals and datetimes as strings, arrays and
structs element by element. Rows hash with ``xxhash64`` and the row
hashes are summed, so row order does not matter; the row count rides
along. The hash runs on the executors; nothing is collected but one
row.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXPECTED_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _canon(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.format_string("%.9g", c.cast("double") + F.lit(0.0))
    if isinstance(dt, (T.DecimalType, T.DateType, T.TimestampType, T.TimestampNTZType)):
        return c.cast("string")
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: _canon(x, dt.elementType))
    if isinstance(dt, T.StructType):
        return F.struct(*[_canon(c[f.name], f.dataType).alias(f.name) for f in dt.fields])
    if isinstance(dt, T.MapType):
        return _canon(F.map_entries(c), T.ArrayType(
            T.StructType([T.StructField("key", dt.keyType), T.StructField("value", dt.valueType)])
        ))
    if isinstance(dt, T.UserDefinedType):
        return c.cast("string")
    return c


def row_hash(df: DataFrame, exclude: tuple[str, ...] = ()) -> str:
    """``"<rows>:<sum of row hashes>"`` over every column not in
    ``exclude`` (wall-clock columns)."""
    fields = [f for f in df.schema.fields if f.name not in exclude]
    if not fields:
        return f"{df.count()}:0"
    h = F.xxhash64(*[_canon(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    row = df.select(h.cast("decimal(20,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return f"{row['n']}:{row['s'] or 0}"


def load_expected() -> dict:
    try:
        with open(EXPECTED_FILE) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def save_expected(doc: dict) -> None:
    with open(EXPECTED_FILE, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
