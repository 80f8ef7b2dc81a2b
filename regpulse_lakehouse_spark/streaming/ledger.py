"""Run ledger + streaming wrapper — SURVEY.md §2.11 ST1-ST3.

The reference's queue-driven micro-batch (BullMQ workers, queue.ts:
10-19; run state machine queued→running→completed|failed, jobs/scan.ts:
20,82-103; append-only run_logs polled every 2s, RunMonitor.tsx:25-54)
maps to:

- a ``runs`` DeltaLogTable as the ledger: a new run is an add-only
  commit of one row, and a state transition is a point UPDATE — the
  driver reads the snapshot's files, rewrites the matching row's
  status/completed_at/meta, and commits the rows as an overwrite;
- an append-only ``run_logs`` DeltaLogTable (ordered replay is the T3
  query);
- ``stream_scan``: a Structured Streaming wrapper that runs the *same*
  batch scan pipeline per micro-batch via ``foreachBatch`` — write
  once, run both modes (SURVEY §7 Phase 7) — and commits its outputs
  to DeltaLogTables (main items latest-wins, review items and links
  insert-if-absent, so a replayed micro-batch adds nothing).

The ledger's rows are ``pyarrow`` tables that the driver reads and
writes itself (``DeltaLogTable.append``/``write`` take Arrow input),
so ``create_run``, ``transition`` and ``log`` start no Spark job.

Watermark policy note (ST4): the reference has no event-time watermark
— unknown dates pass the window filter and dedup is within-batch only.
``stream_scan`` keeps that parity; cross-batch dedup would be a
deliberate extension via ``withWatermark + dropDuplicates``.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from ..operators.delta_log import DeltaLogTable
from ..pipelines.scan import _LINK_COLS, run_scan


class RunLedger:
    """runs + run_logs tables with the reference's state machine."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.runs = DeltaLogTable(spark, f"{root}/runs")
        self.logs = DeltaLogTable(spark, f"{root}/run_logs")

    def _now(self) -> dt.datetime:
        return dt.datetime.now(dt.timezone.utc)

    @staticmethod
    def _row(schema: T.StructType, **values) -> pa.Table:
        """One row typed by ``schema``: ``values`` by column name,
        missing columns null, ``meta`` the empty map."""
        return pa.Table.from_pylist(
            [{"meta": [], **values}], schema=to_arrow_schema(schema)
        )

    def create_run(
        self, run_type: str, jurisdiction: str, days_window: int = 90
    ) -> str:
        """queued row (index.ts:359-381)."""
        run_id = f"run-{uuid.uuid4()}"
        row = self._row(
            schemas.RUNS,
            id=run_id,
            run_type=run_type,
            jurisdiction=jurisdiction,
            days_window=days_window,
            status="queued",
            started_at=self._now(),
        )
        self.runs.append(row)
        return run_id

    def transition(
        self, run_id: str, status: str, meta: dict[str, str] | None = None
    ) -> None:
        """State transition as a point UPDATE (jobs/scan.ts:20,82-103:
        queued→running→completed|failed): the row with id ``run_id``
        takes the new status, a terminal status stamps completed_at,
        and ``meta`` merges over the stored map — the
        COALESCE(meta,'{}')||$1 jsonb merge, new keys winning. Every
        other row is copied unchanged; an unknown id commits nothing."""
        current = self.runs._read_arrow()
        rows = current.to_pylist()
        hits = [r for r in rows if r["id"] == run_id]
        if not hits:
            return
        now = self._now()
        for r in hits:
            r["status"] = status
            r["meta"] = list({**dict(r["meta"] or []), **(meta or {})}.items())
            if status in ("completed", "failed"):
                r["completed_at"] = now
        self.runs.write(pa.Table.from_pylist(rows, schema=current.schema))

    def log(self, run_id: str, stage: str, message: str) -> None:
        """ST3 append-only progress stream (repository.ts:87-100)."""
        row = self._row(
            schemas.RUN_LOGS,
            id=f"log-{uuid.uuid4()}",
            run_id=run_id,
            stage=stage,
            message=message,
            created_at=self._now(),
        )
        self.logs.append(row)

    def replay(self, run_id: str, limit: int = 200) -> DataFrame:
        """T3 ordered replay with cap (repository.ts:94-100)."""
        return (
            self.logs.read()
            .filter(F.col("run_id") == run_id)
            .orderBy(F.asc("created_at"), F.asc("id"))
            .limit(limit)
        )


def stream_scan(
    spark: SparkSession,
    source_dir: str,
    output_root: str,
    checkpoint_dir: str,
    ledger: RunLedger | None = None,
    days_window: int = 365 * 50,
    **scan_kwargs,
):
    """ST1: Structured Streaming ingestion reusing the batch scan DAG.

    Watches ``source_dir`` for parquet files in the source_documents
    shape and processes each micro-batch through ``run_scan`` via
    foreachBatch into three DeltaLogTables under ``output_root``. Each
    item row carries the micro-batch id as ``_refresh_version``:
    ``main_items`` is upserted on ``id`` (a re-crawl in a later
    micro-batch wins), ``review_items`` takes only (``id``,
    ``_refresh_version``) pairs it does not hold yet (a re-crawl queues
    a new row), and ``links`` takes only five-tuples it does not hold
    yet. So a micro-batch that Spark re-delivers after a crash between
    the sink's commits and its own adds nothing. Returns the
    StreamingQuery (caller awaits)."""
    stream = (
        spark.readStream.schema(schemas.SOURCE_DOCUMENTS)
        .option("maxFilesPerTrigger", 4)  # ST5-style throttle
        .parquet(source_dir)
    )

    main, review, links = (
        DeltaLogTable(spark, f"{output_root}/{name}")
        for name in ("main_items", "review_items", "links")
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_id = f"stream-batch-{batch_id}"
        if ledger is not None:
            ledger.log(run_id, "process", f"batch {batch_id}")
        result = run_scan(batch_df, run_id=run_id, days_window=days_window, **scan_kwargs)
        version = F.lit(int(batch_id))
        main.upsert(
            result.main_items.withColumn("_refresh_version", version),
            ["id"],
            "_refresh_version",
        )
        review.insert_if_absent(
            result.review_items.withColumn("_refresh_version", version),
            ["id", "_refresh_version"],
        )
        links.insert_if_absent(result.links, _LINK_COLS)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
