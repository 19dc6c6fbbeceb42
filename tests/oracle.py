"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL on the same parquet tables and
compares row count, column names, column TYPES, and order-insensitive
values. Used by tests/test_parity.py so oracle drift is caught before
the driver runs CORRECTNESS_r{N}.json.

TYPE-AWARENESS (round-3 lesson): the driver's value hash is TYPED — a
DuckDB HUGEINT (the default result type of an integer SUM) hashes
differently from Spark's BIGINT even when every value is numerically
identical (`value_mad_outliers`, CORRECTNESS_r03). The str()-based cell
canonicalization here could never see that, so `compare` now also maps
both engines' declared column types into one canonical family lattice
and fails on any mismatch. Oracle authors: keep the module contract —
every count/flag-sum column must be CAST(... AS BIGINT), every money
aggregate surfaced as DOUBLE.

LITERAL-CAST TRUNCATION (round-4 lesson, sprt_daily_monitor): DuckDB's
CAST of a higher-precision numeric literal to a narrower DECIMAL
TRUNCATES where Spark rounds — CAST(0.1823215567939546 AS
DECIMAL(18,9)) is ...556 in DuckDB, ...557 in Spark. Bake constants
PRE-ROUNDED to the target scale on both sides (round(x, 9) in Python,
then the literal casts exactly everywhere).

NO DECIMAL OUTPUTS (round-10 lesson, pricing_summary): the driver's
typed hash disagrees across engines on DECIMAL cells even when rows,
types and values all match, and str() of a Decimal cannot see that.
`compare` fails any DECIMAL output column on either engine; surface
money as DOUBLE (functions/scalars.dec_to_double_split past 2^53).
"""

from __future__ import annotations

import math
import os
import re
from decimal import Decimal

import duckdb

from doeecommerce_datapipeline_spark.io import TABLES

# ---------------------------------------------------------------------------
# Canonical type families. Spark simpleString dtypes and DuckDB DESCRIBE
# types both map here; a query passes only if every output column lands
# in the same family on both sides. HUGEINT maps to "i128", which no
# Spark type produces — so an uncast integer SUM fails locally.
# ---------------------------------------------------------------------------

_SPARK_SCALARS = {
    "tinyint": "i8",
    "smallint": "i16",
    "int": "i32",
    "integer": "i32",
    "bigint": "i64",
    "long": "i64",
    "float": "f32",
    "double": "f64",
    "string": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "ts",
    "timestamp_ntz": "ts",
    "binary": "bytes",
}

_DUCK_SCALARS = {
    "tinyint": "i8",
    "smallint": "i16",
    "integer": "i32",
    "bigint": "i64",
    "hugeint": "i128",  # intentionally unmatchable from Spark
    "utinyint": "u8",
    "usmallint": "u16",
    "uinteger": "u32",
    "ubigint": "u64",
    "float": "f32",
    "real": "f32",
    "double": "f64",
    "varchar": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "ts",
    "timestamp with time zone": "ts",
    "timestamp_ns": "ts",
    "blob": "bytes",
}

_DEC_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")
_HAS_DEC_RE = re.compile(r"decimal\(", re.IGNORECASE)


def decimal_columns(types: dict[str, str]) -> list[str]:
    """Columns whose declared type holds a DECIMAL, nested ones too."""
    return sorted(c for c, t in types.items() if _HAS_DEC_RE.search(t))


def canon_spark_type(dt: str) -> str:
    dt = dt.strip().lower()
    if dt in _SPARK_SCALARS:
        return _SPARK_SCALARS[dt]
    m = _DEC_RE.match(dt)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if dt.startswith("array<") and dt.endswith(">"):
        return f"array<{canon_spark_type(dt[6:-1])}>"
    return dt  # struct/map: compare raw strings


def canon_duck_type(dt: str) -> str:
    dt = dt.strip().lower()
    if dt in _DUCK_SCALARS:
        return _DUCK_SCALARS[dt]
    m = _DEC_RE.match(dt)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if dt.endswith("[]"):
        return f"array<{canon_duck_type(dt[:-2])}>"
    return dt


def _canon(v):
    """Canonicalize a cell for order-insensitive comparison."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — mismatch in any bit is real
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


def run_oracle(sql: str, sf_dir: str):
    """Execute oracle SQL; returns (cols, declared duckdb types, rows).

    Big-SF sweeps (the sf1 parity sweep) can bound the twin's memory
    and let DuckDB spill to disk instead of OOMing the process:
    SPARK_GRAFT_ORACLE_MEM (e.g. '24GB') sets the memory_limit and a
    /tmp spill directory. Unset (the default, and the driver's
    configuration) leaves DuckDB untouched."""
    con = duckdb.connect()
    mem = os.environ.get("SPARK_GRAFT_ORACLE_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
        # per-PID spill dir: two DuckDB processes sharing one temp
        # directory collide on the numbered spill files and abort
        con.execute(
            f"SET temp_directory='/tmp/duckdb_spill_{os.getpid()}'"
        )
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    cols = [d[0] for d in desc]
    types = [d[1] for d in desc]
    rows = con.execute(sql).fetchall()
    con.close()
    return cols, types, rows


def compare(spark_df, sql: str, sf_dir: str) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    problems: list[str] = []
    s_rows = spark_df.collect()
    s_cols = spark_df.columns
    s_types = dict(spark_df.dtypes)
    o_cols, o_types_list, o_rows = run_oracle(sql, sf_dir)
    o_types = dict(zip(o_cols, o_types_list))

    if sorted(s_cols) != sorted(o_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        return problems

    for side, types in (("spark", s_types), ("oracle", o_types)):
        for c in decimal_columns(types):
            problems.append(
                f"column '{c}' is {types[c]} on {side} — the driver's typed "
                f"hash disagrees across engines on DECIMAL; surface it as DOUBLE"
            )

    # typed comparison — mirrors the driver's typed value hash
    for c in sorted(s_cols):
        sc, oc = canon_spark_type(s_types[c]), canon_duck_type(o_types[c])
        if sc != oc:
            problems.append(
                f"column '{c}' type family differs: spark {s_types[c]} ({sc}) "
                f"vs oracle {o_types[c]} ({oc}) — the driver hash is typed; "
                f"CAST the oracle side (counts AS BIGINT, money AS DOUBLE)"
            )
    if problems:
        return problems

    if len(s_rows) != len(o_rows):
        problems.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")

    s_set = _rowset(s_cols, [[r[c] for c in s_cols] for r in s_rows])
    o_set = _rowset(o_cols, o_rows)
    if s_set != o_set:
        only_s = [r for r in s_set if r not in set(map(tuple, o_set))][:3]
        only_o = [r for r in o_set if r not in set(map(tuple, s_set))][:3]
        problems.append(
            f"values differ; spark-only sample={only_s} oracle-only sample={only_o}"
        )
    return problems
