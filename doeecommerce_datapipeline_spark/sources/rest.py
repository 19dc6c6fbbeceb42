"""Ingestion sources (SURVEY.md §2.1 S1–S4).

The reference fetches three public REST APIs with retry/backoff,
pagination, and parallel fan-out (ingestion_util.py:179-318,
fakestore_ingestor.py:273-319). Spark has no native REST source, so:

- `RecordsSource`: driver-held rows → DataFrame with an explicit
  schema, as an Arrow local relation — the seam every test, file-based
  run and driver-built frame (ledger, check results, reports) goes
  through.
- `RestSource`: driver-side HTTP with retry/backoff + offset
  pagination (gated behind an import-try on `requests`).
- `distributed_fetch`: the 100 TB path — page ids distributed via
  spark.range, each executor partition fetches its pages with
  mapInPandas, so ingest bandwidth scales with the cluster instead of
  the driver NIC.

Every source stamps the lineage columns the reference decorates rows
with (base_generator.py:163-164, dummyjson_ingestor.py:549-552).
"""

from __future__ import annotations

import datetime
import decimal
import json
import time
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from ..pyfiles import ensure_shipped

try:  # optional: not needed for file-based runs/tests
    import requests  # noqa: F401

    HAVE_REQUESTS = True
except Exception:  # pragma: no cover
    HAVE_REQUESTS = False


def with_lineage(
    df: DataFrame, source_name: str, endpoint: str | None = None, table_name: str | None = None
) -> DataFrame:
    """P3: lineage-column injection. Source-provided lineage values are
    preserved (replays/backfills carry their original stamps — that's
    what makes latest-wins dedup meaningful); only missing pieces are
    filled at load time."""
    defaults = {
        "_ingestion_timestamp": F.current_timestamp(),
        "_source_name": F.lit(source_name),
        "_endpoint": F.lit(endpoint),
        "_table_name": F.lit(table_name),
    }
    for col, default in defaults.items():
        if col in df.columns:
            df = df.withColumn(col, F.coalesce(F.col(col), default))
        else:
            df = df.withColumn(col, default)
    return df


# wide enough for any decimal(38, s); the default context keeps 28 digits
_DECIMAL_CTX = decimal.Context(prec=38)


def _row_values(obj, names: list[str]) -> tuple:
    """A struct value as a tuple in field order, read the way classic
    ``createDataFrame`` reads rows: dicts by name (absent → None),
    tuples and lists by position."""
    if isinstance(obj, dict):
        return tuple(obj.get(n) for n in names)
    return tuple(obj)


def _arrow_converter(dt: T.DataType):
    """Per-value conversion from what classic ``createDataFrame``
    accepts for ``dt`` to what ``pyarrow.array`` stores with the same
    meaning; None when values pass through unchanged."""
    conv = None
    if isinstance(dt, T.DecimalType):
        # classic rounds to the field scale (JVM HALF_UP); Arrow raises
        quantum = decimal.Decimal(1).scaleb(-dt.scale)
        conv = lambda v: v.quantize(  # noqa: E731
            quantum, rounding=decimal.ROUND_HALF_UP, context=_DECIMAL_CTX
        )
    elif isinstance(dt, T.TimestampType):
        # an aware value is its UTC instant; Arrow would keep the wall time
        conv = lambda v: (  # noqa: E731
            v if v.tzinfo is None
            else v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        )
    elif isinstance(dt, T.StructType):
        names = dt.names
        fields = [_arrow_converter(f.dataType) for f in dt.fields]
        conv = lambda v: {  # noqa: E731
            n: x if c is None or x is None else c(x)
            for n, c, x in zip(names, fields, _row_values(v, names))
        }
    elif isinstance(dt, T.ArrayType):
        elem = _arrow_converter(dt.elementType)
        if elem is not None:
            conv = lambda v: [None if x is None else elem(x) for x in v]  # noqa: E731
    return conv


class RecordsSource:
    """The seam for every DataFrame built from driver-held rows: raw
    JSON records, ledger appends, check results, small reports.

    Rows are dicts keyed by field name (absent keys become typed nulls,
    so null-stripping, P4, is unnecessary) or tuples in schema order.
    They reach Spark as one ``pyarrow.Table``, planned as a
    ``LocalTableScan``: no pickled PythonRDD scan, so no Python worker
    runs for each write or action on the frame.

    Values mean what they mean to classic ``createDataFrame``:

    - every row first passes classic's own type verifier, so ``None``
      in a non-nullable field or a wrong-typed value raises here;
    - a ``Decimal`` is rounded to its field's scale, ``ROUND_HALF_UP``;
    - an offset-aware datetime is stored as its UTC instant;
    - struct and array values are converted recursively.

    One deliberate difference: a naive datetime is a UTC wall time,
    so it reads back unchanged in the package's UTC session whatever
    the host's ``TZ``. Classic read it in the Python process's local
    zone (``time.mktime``) and shifted it by the host's UTC offset."""

    def __init__(self, spark: SparkSession, schema: T.StructType | str):
        self.spark = spark
        self.schema = (
            T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        self._verify = _make_type_verifier(self.schema)
        self._arrow_schema = to_arrow_schema(self.schema)
        self._converters = [_arrow_converter(f.dataType) for f in self.schema.fields]

    def to_df(self, records: Iterable) -> DataFrame:
        """All schema fields, lineage included — records that carry
        stamps (replays, fixtures) keep them; absent keys become typed
        nulls for with_lineage to fill."""
        names = self.schema.names
        rows = []
        for r in records:
            self._verify(r)
            rows.append(_row_values(r, names))
        columns = zip(*rows) if rows else [()] * len(names)
        table = pa.Table.from_arrays(
            [
                pa.array(
                    col if conv is None
                    else [None if v is None else conv(v) for v in col],
                    type=field.type,
                )
                for col, conv, field in zip(columns, self._converters, self._arrow_schema)
            ],
            schema=self._arrow_schema,
        )
        return self.spark.createDataFrame(table, self.schema)


class RestSource:
    """Driver-side REST scan with retry/backoff (C1) and offset
    pagination (S2). Parameters mirror the reference's APIConfig
    (ingestion_util.py:38-42): timeout 30s, 3 retries, ×2 backoff."""

    def __init__(
        self,
        base_url: str,
        timeout: float = 30.0,
        max_retries: int = 3,
        backoff: float = 2.0,
        initial_delay: float = 1.0,
    ):
        if not HAVE_REQUESTS:
            raise ImportError("requests not available; use RecordsSource")
        self.base_url = base_url
        self.timeout = timeout
        self.max_retries = max_retries
        self.backoff = backoff
        self.initial_delay = initial_delay
        self.session = requests.Session()
        self.session.headers["User-Agent"] = "doeecommerce-datapipeline-spark/0.1"

    def fetch(self, path: str, params: dict | None = None):
        delay = self.initial_delay
        for attempt in range(self.max_retries + 1):
            try:
                r = self.session.get(
                    f"{self.base_url}{path}", params=params, timeout=self.timeout
                )
                r.raise_for_status()
                return r.json()
            except Exception:
                if attempt == self.max_retries:
                    raise
                time.sleep(delay)
                delay *= self.backoff

    def fetch_paginated(
        self,
        path: str,
        page_size: int = 100,
        skip_param: str = "skip",
        limit_param: str = "limit",
        response_key: str | None = None,
    ) -> list[dict]:
        """Offset loop until a short page (ingestion_util.py:257-318)."""
        out: list[dict] = []
        skip = 0
        while True:
            batch = self.fetch(path, {skip_param: skip, limit_param: page_size})
            if response_key is not None:
                batch = batch.get(response_key, [])
            if not isinstance(batch, list):
                batch = [batch]
            out.extend(batch)
            if len(batch) < page_size:
                return out
            skip += page_size


def distributed_fetch(
    spark: SparkSession,
    url_for_page,
    n_pages: int,
    schema: T.StructType,
    partitions: int | None = None,
) -> DataFrame:
    """S2 at scale: fan page fetches out to executors.

    `url_for_page(i) -> str` must be a pure picklable function. Each
    partition opens one HTTP session and streams its pages — the
    driver never holds the full payload.
    """
    if not HAVE_REQUESTS:
        raise ImportError("requests not available")
    import pandas as pd

    data_fields = [f.name for f in schema.fields]

    def fetch_pages(iterator):
        import requests as rq

        session = rq.Session()
        for pdf in iterator:
            rows = []
            for page in pdf["id"]:
                payload = session.get(url_for_page(int(page)), timeout=30).json()
                records = payload if isinstance(payload, list) else [payload]
                rows.extend(
                    {k: r.get(k) for k in data_fields} for r in records
                )
            yield pd.DataFrame(rows, columns=data_fields)

    ensure_shipped(spark)  # closure must be importable on workers
    pages = spark.range(n_pages).repartition(partitions or min(n_pages, 64))
    return pages.mapInPandas(fetch_pages, schema)


def coerce_json_records(records: list[dict], schema: T.StructType) -> list[dict]:
    """Schema-driven re-typing of freshly-parsed JSON records: JSON
    carries only strings/numbers/bools, but the declared raw schema
    knows which fields are decimals (money must NOT pass through
    float) and which are timestamps — recursively coerced through
    nested structs and arrays. The standard seam step between any
    HTTP fetch and ``RecordsSource.to_df``."""

    def coerce(v, dt):
        if v is None:
            return None
        if isinstance(dt, T.DecimalType) and isinstance(v, (int, float, str)):
            # repr(float) is the shortest round-trip — exact for the
            # 2-decimal money values APIs serve
            return decimal.Decimal(str(v))
        if isinstance(dt, T.TimestampType) and isinstance(v, str):
            return datetime.datetime.fromisoformat(v)
        if isinstance(dt, T.DateType) and isinstance(v, str):
            return datetime.date.fromisoformat(v)
        if isinstance(dt, T.StructType) and isinstance(v, dict):
            return {f.name: coerce(v.get(f.name), f.dataType) for f in dt.fields}
        if isinstance(dt, T.ArrayType) and isinstance(v, list):
            return [coerce(x, dt.elementType) for x in v]
        return v

    return [
        {f.name: coerce(r.get(f.name), f.dataType) for f in schema.fields}
        for r in records
    ]


def records_from_json_file(path: str) -> list[dict]:
    """File-backed source for tests/fidelity runs."""
    with open(path) as f:
        data = json.load(f)
    return data if isinstance(data, list) else [data]
