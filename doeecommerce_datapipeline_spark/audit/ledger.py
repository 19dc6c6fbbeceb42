"""Append-only audit ledger (SURVEY.md §2.11 C3).

The reference writes an ingestion_log row per run and UPDATEs it in
place by id (audit_writer.py:21-85, db_setup.py:313-331). In-place row
updates are hostile to immutable storage, so the ledger here is
event-sourced: every status transition is an append, and the
"current" view is latest-wins per run_id — the same W1 dedup window
the silver layer uses (one mechanism, reused).
"""

from __future__ import annotations

import threading
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.rest import RecordsSource

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("records_fetched", T.LongType()),
        T.StructField("records_loaded", T.LongType()),
        T.StructField("records_failed", T.LongType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
    ]
)


class AuditLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._rows = RecordsSource(spark, LEDGER_SCHEMA)
        self._lock = threading.Lock()

    def _append(self, row: dict) -> None:
        # one append at a time: concurrent appends to one path share its
        # _temporary/ staging dir, and the first job to commit deletes
        # the other's staged files
        df = self._rows.to_df([row])
        with self._lock:
            df.write.mode("append").parquet(self.path)

    def start_run(self, source_name: str, table_name: str) -> str:
        """PENDING→IN_PROGRESS open (audit_writer.py:21-44's INSERT
        RETURNING id → a driver-side UUID, no sequence needed)."""
        run_id = uuid.uuid4().hex
        self._append(
            dict(
                run_id=run_id,
                source_name=source_name,
                table_name=table_name,
                status="IN_PROGRESS",
                records_fetched=None,
                records_loaded=None,
                records_failed=None,
                error_message=None,
                event_time=datetime.now(timezone.utc),
            )
        )
        return run_id

    def end_run(
        self,
        run_id: str,
        status: str,
        fetched: int = 0,
        loaded: int = 0,
        failed: int = 0,
        error: str | None = None,
        source_name: str = "",
        table_name: str = "",
    ) -> None:
        """SUCCESS/FAILED/PARTIAL close (audit_writer.py:69-85's UPDATE
        — here an append; the view below resolves to latest state)."""
        self._append(
            dict(
                run_id=run_id,
                source_name=source_name,
                table_name=table_name,
                status=status,
                records_fetched=fetched,
                records_loaded=loaded,
                records_failed=failed,
                error_message=error,
                event_time=datetime.now(timezone.utc),
            )
        )

    def current_state(self) -> DataFrame:
        """Latest-wins view per run_id (reuses the W1 dedup window)."""
        df = self.spark.read.parquet(self.path)
        w = Window.partitionBy("run_id").orderBy(
            F.col("event_time").desc(), F.col("status").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def history(self) -> DataFrame:
        return self.spark.read.parquet(self.path)
