"""Audit tables: ingest_log (run/checkpoint/metrics) and rejects.

Re-expresses the reference's four Delta audit tables
(``/root/reference/src/cdm_data_loader_utils/audit/schema.py:40-93``;
checkpoint MERGE ``audit/checkpoint.py:42-60``; metrics MERGE
``audit/metrics.py:79-93``; rejects append ``audit/rejects.py:24-84``; run
status machine ``audit/run.py:33-114``) on the from-scratch lake format.
Rows are tiny (per batch / per partition), so these are append-mostly tables;
the run-status transition uses the LWW merge keyed on (run_id, batch_id,
partition_id), mirroring the reference's keyed MERGE upsert.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import LakeTable, local_frame
from ..schemas import (
    INGEST_LOG_SCHEMA,
    REJECTS_SCHEMA,
    ROW_ERRORS_COL,
    RUN_STATUS_ERROR,
    RUN_STATUS_RUNNING,
    RUN_STATUS_SUCCESS,
    RUNS_SCHEMA,
)


class AuditStore:
    """ingest_log + rejects + runs tables under one warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.ingest_log = self._open("ingest_log", INGEST_LOG_SCHEMA)
        self.rejects = self._open("rejects", REJECTS_SCHEMA)
        self.runs = self._open("runs", RUNS_SCHEMA)

    def _open(self, name: str, schema) -> LakeTable:
        path = os.path.join(self.warehouse, name)
        if LakeTable.exists(path):
            return LakeTable.load(self.spark, path)
        return LakeTable.create(self.spark, path, schema)

    # -- ingest_log ---------------------------------------------------------
    def log_batch(
        self,
        run_id: str,
        batch_id: int,
        status: str,
        rows_read: int | None = None,
        rows_valid: int | None = None,
        rows_invalid: int | None = None,
        rows_applied: int | None = None,
        lsn_watermark: int | None = None,
        snapshot_id: int | None = None,
        partition_rows: list[tuple[int, int, int]] | None = None,
    ) -> None:
        """Write one batch-total lineage row (partition_id = -1) plus optional
        per-partition rows (partition_id, rows_applied, lsn_watermark)."""
        now = F.current_timestamp()
        rows = [
            {
                "run_id": run_id, "batch_id": batch_id, "status": status,
                "rows_read": rows_read, "rows_valid": rows_valid,
                "rows_invalid": rows_invalid, "rows_applied": rows_applied,
                "lsn_watermark": lsn_watermark, "partition_id": -1,
                "snapshot_id": snapshot_id,
            }
        ]
        for pid, applied, wm in partition_rows or []:
            rows.append(
                {
                    "run_id": run_id, "batch_id": batch_id, "status": status,
                    "rows_read": None, "rows_valid": None, "rows_invalid": None,
                    "rows_applied": applied, "lsn_watermark": wm,
                    "partition_id": pid, "snapshot_id": snapshot_id,
                }
            )
        # typed schema, not just names: a fully-rejected batch has every
        # metric column None and name-only inference cannot type it
        log_schema = T.StructType(
            [f for f in INGEST_LOG_SCHEMA.fields if f.name != "updated"]
        )
        df = local_frame(self.spark, rows, log_schema).withColumn("updated", now)
        # fenced like the data merge: a re-delivered batch (concurrent
        # second driver, resume=False rerun) must not append duplicate
        # lineage rows that double run_metrics' sums. Status transitions
        # (RUNNING -> SUCCESS/ERROR rows) carry distinct fence keys.
        self.ingest_log.append(
            df, fence_key=f"{run_id}:{batch_id}:{status}:log"
        )

    def last_checkpoint(self, run_id: str) -> dict | None:
        """Latest SUCCESS batch for a run — reference checkpoint lookup
        (``audit/checkpoint.py:94-113`` ``limit(1).collect()``)."""
        rows = (
            self.ingest_log.read()
            .filter(
                (F.col("run_id") == run_id)
                & (F.col("status") == "SUCCESS")
                & (F.col("partition_id") == -1)
            )
            .orderBy(F.col("batch_id").desc())
            .limit(1)
            .collect()
        )
        return rows[0].asDict() if rows else None

    # -- run state machine ----------------------------------------------------
    # mirror of the reference's run lifecycle (audit/run.py:33-114): start a
    # RUNNING row, finish via targeted UPDATE; a transition that matches no
    # RUNNING row warns instead of silently passing (the reference's
    # `_table_not_updated` history check, audit/run.py:27-30).
    def start_run(self, run_id: str) -> None:
        # idempotent: a resumed run must not stack a second RUNNING row
        # (finish transitions match on status=RUNNING and would rewrite both)
        if self.run_status(run_id) == RUN_STATUS_RUNNING:
            return
        base = T.StructType(
            [f for f in RUNS_SCHEMA.fields if f.name in ("run_id", "status", "error")]
        )
        df = local_frame(
            self.spark, [{"run_id": run_id, "status": RUN_STATUS_RUNNING}], base
        ).select(
            "run_id", "status", "error",
            F.current_timestamp().alias("started"),
            F.lit(None).cast("timestamp").alias("finished"),
        )
        self.runs.append(df)

    def _finish_run(self, run_id: str, status: str, error: str | None) -> int:
        _, n = self.runs.update(
            (F.col("run_id") == run_id) & (F.col("status") == RUN_STATUS_RUNNING),
            {
                "status": F.lit(status),
                "error": F.lit(error),
                "finished": F.current_timestamp(),
            },
        )
        return n

    def complete_run(self, run_id: str) -> int:
        """RUNNING → SUCCESS. Returns rows transitioned (0 ⇒ warned no-op)."""
        return self._finish_run(run_id, RUN_STATUS_SUCCESS, None)

    def fail_run(self, run_id: str, error: str) -> int:
        """RUNNING → ERROR with the failure message."""
        return self._finish_run(run_id, RUN_STATUS_ERROR, error)

    def run_status(self, run_id: str) -> str | None:
        rows = (
            self.runs.read().filter(F.col("run_id") == run_id)
            .orderBy(F.col("started").desc())
            .limit(1)
            .collect()
        )
        return rows[0]["status"] if rows else None

    # -- rejects ------------------------------------------------------------
    def write_rejects(self, run_id: str, batch_id: int, invalid: DataFrame) -> int:
        """Capture invalid rows: raw record as JSON + error array, mirroring
        ``audit/rejects.py:73`` (``to_json(struct(*cols))``).

        Fenced on (run_id, batch_id): a batch re-delivered after a failed
        merge (its own fence never committed) must not append its reject
        rows a second time."""
        invalid = invalid.persist()
        if invalid.isEmpty():
            invalid.unpersist()
            return 0
        payload_cols = [c for c in invalid.columns if c != ROW_ERRORS_COL]
        out = invalid.select(
            F.lit(run_id).alias("run_id"),
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.to_json(F.struct(*payload_cols)).alias("raw_record"),
            F.col(ROW_ERRORS_COL).alias("errors_in_record"),
            F.current_timestamp().alias("timestamp"),
        )
        sid = self.rejects.append(out, fence_key=f"{run_id}:{batch_id}:rejects")
        invalid.unpersist()
        # count from the snapshot THIS append (or its earlier fenced twin)
        # created — the latest snapshot may belong to another batch
        return self.rejects.snapshot(sid)["summary"].get("rows_written", 0)

    # -- metrics view -------------------------------------------------------
    def run_metrics(self, run_id: str) -> DataFrame:
        """Aggregated per-run metrics (reference ``audit/metrics.py:60-65``
        conditional-sum pattern)."""
        log = self.ingest_log.read().filter(
            (F.col("run_id") == run_id) & (F.col("partition_id") == -1)
        )
        return log.agg(
            F.count("*").alias("batches"),
            F.sum("rows_read").alias("rows_read"),
            F.sum("rows_valid").alias("rows_valid"),
            F.sum("rows_invalid").alias("rows_invalid"),
            F.sum("rows_applied").alias("rows_applied"),
            F.max("lsn_watermark").alias("lsn_watermark"),
            F.sum(F.when(F.col("status") == "ERROR", 1).otherwise(0)).alias("error_batches"),
        )

    def lineage_report(self, run_id: str) -> DataFrame:
        """Per-partition lineage rows for a run (north-rule requirement)."""
        return (
            self.ingest_log.read()
            .filter((F.col("run_id") == run_id) & (F.col("partition_id") >= 0))
            .orderBy("batch_id", "partition_id")
        )

    def summary_json(self, run_id: str) -> str:
        row = self.run_metrics(run_id).collect()[0].asDict()
        return json.dumps({k: (int(v) if v is not None else None) for k, v in row.items()})
