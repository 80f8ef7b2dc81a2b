"""Continuous aggregate maintenance — the hypertable-rollup shape
(TimescaleDB continuous aggregates / Delta-style streaming
materialization): keep a queryable table of time-bucketed aggregates
incrementally up to date as events stream in, instead of recomputing
the rollup from raw events per query.

Mechanics: the SAME windowed transform the batch path uses
(streaming/windows.tumbling_counts) runs in UPDATE output mode — each
micro-batch emits the CURRENT cumulative aggregate for every window the
batch touched (Spark's aggregation state carries the running totals; the
watermark bounds that state and finalizes old windows). ``foreachBatch``
then upserts those rows into a DeltaLogTable keyed on
(window_start, event_type), stamped with the micro-batch id as the
version column so replays after a failure are idempotent (the
at-least-once batch re-emits the same rows with the same or newer
totals; latest-version-wins keeps the table correct). The sketch
rollups commit the same way, keyed on window_start: each micro-batch
MERGEs only the windows it touched, and the upsert rewrites only the
files holding those windows.

100 TB shape: per-batch output is proportional to the windows TOUCHED
by the batch (bounded by arrival skew + watermark), never to the table
size; the upsert shuffles on the narrow (window, type) key; and readers
query the rollup table directly — no scan of raw events. The query
checkpoint carries the aggregation state across restarts, so
maintenance resumes incrementally (proven across two separate
``availableNow`` runs in tests/test_rollup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.delta_log import DeltaLogTable
from .windows import tumbling_counts


def maintain_rollup(
    events_stream: DataFrame,
    table: DeltaLogTable,
    checkpoint_dir: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    watermark: str = "2 hours",
):
    """Start (availableNow) the incremental maintenance query for the
    tumbling rollup of ``events_stream`` into ``table``. Returns the
    StreamingQuery; callers await it. The maintained table carries the
    rollup columns plus ``_refresh_version`` (the micro-batch id that
    last wrote each row)."""
    agg = tumbling_counts(events_stream, window=window, ts_col=ts_col, watermark=watermark)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.upsert(
            batch_df.withColumn("_refresh_version", F.lit(int(batch_id))),
            keys=["window_start", "event_type"],
            version_col="_refresh_version",
        )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def maintain_distinct_rollup(
    events_stream: DataFrame,
    table: DeltaLogTable,
    checkpoint_dir: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    value_col: str = "user_id",
    p: int = 9,
):
    """Incrementally maintain per-window DISTINCT counts — the rollup
    plain counters can't give you: an exact streaming distinct would
    hold every seen id in state forever, so the maintained table
    stores a mergeable HLL sketch per window (operators/sketches.py)
    instead. Each micro-batch sketches only ITS events per window,
    register-wise-max-merges them into the stored sketches of the
    windows it touched (merging is associative + idempotent-on-replay
    at the register level for at-least-once batches of identical
    rows), stamps the live estimate, and upserts just those windows —
    O(batch + touched windows × 2^p), and the MERGE rewrites only the
    files holding touched windows. Each row carries
    ``_refresh_version``, the highest micro-batch id merged into it,
    so a merged row always wins its upsert. Events with a NULL
    timestamp are dropped (a null window key would fragment under the
    join every batch).

    Batch-equivalence is EXACT at the register level (deterministic
    hash): N micro-batches leave the same sketches a one-shot batch
    pass computes (tested across two availableNow runs)."""
    from ..operators import sketches as SK

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.where(F.col(ts_col).isNotNull())
        if batch_df.isEmpty():
            return
        wcol = F.date_format(
            F.window(F.col(ts_col), window)["start"], "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start")
        fresh = SK.hll_partials(
            batch_df.select(wcol, F.col(value_col)), ["window_start"], value_col, p=p
        )
        bid = F.lit(int(batch_id))
        if table.exists():
            stored = table.read().select(
                "window_start",
                F.col("hll").alias("_old"),
                F.col("_refresh_version").alias("_v"),
            )
            fresh = fresh.join(stored, "window_start", "left").select(
                "window_start",
                SK.hll_merge(F.col("hll"), F.col("_old")).alias("hll"),
                F.greatest(bid, F.col("_v")).alias("_refresh_version"),
            )
        else:
            fresh = fresh.withColumn("_refresh_version", bid)
        table.upsert(
            fresh.select(
                "window_start",
                "hll",
                SK.hll_estimate(F.col("hll"), p).alias("approx_distinct"),
                "_refresh_version",
            ),
            keys=["window_start"],
            version_col="_refresh_version",
        )

    return (
        events_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def maintain_freq_rollup(
    events_stream: DataFrame,
    table: DeltaLogTable,
    checkpoint_dir: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    value_col: str = "user_id",
    w: int = 1024,
    d: int = 4,
):
    """Incrementally maintain per-window FREQUENCY sketches (Count-Min,
    operators/sketches.py) — point-queryable "how often did X appear in
    window W" without per-key state: the maintained table stores one
    mergeable CM sketch per window; each micro-batch sketches only ITS
    events, bucket-SUMS them into the stored sketches of the windows
    it touched and upserts just those windows.

    Unlike the HLL rollup, the sum-merge is NOT idempotent under
    at-least-once replay (a re-summed batch would double-count), so
    each window row carries ``_refresh_version`` = the micro-batch id
    that last merged into it, and a batch skips windows already
    stamped at or beyond its id — foreachBatch replays re-deliver the
    same batch id, making the replay a no-op (tested). Work per batch
    is O(batch + touched windows × d·w). NULL timestamps are dropped.

    Batch-equivalence is EXACT at the register level: N micro-batches
    leave the same sketches as a one-shot cm_partials over all events
    (linearity — tested across two availableNow runs)."""
    from ..operators import sketches as SK

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.where(F.col(ts_col).isNotNull())
        if batch_df.isEmpty():
            return
        wcol = F.date_format(
            F.window(F.col(ts_col), window)["start"], "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start")
        fresh = SK.cm_partials(
            batch_df.select(wcol, F.col(value_col)), ["window_start"], value_col,
            w=w, d=d,
        )
        if table.exists():
            stored = table.read().select(
                "window_start",
                F.col("cm").alias("_old"),
                F.col("_refresh_version").alias("_v"),
            )
            # replay guard: a window stamped at/beyond this batch id has
            # already absorbed this batch's events — re-summing would
            # double-count (CM merges are additive, not max-idempotent)
            fresh = (
                fresh.join(stored, "window_start", "left")
                .where(F.col("_v").isNull() | (F.col("_v") < F.lit(int(batch_id))))
                .select(
                    "window_start", SK.cm_merge(F.col("cm"), F.col("_old")).alias("cm")
                )
            )
            if fresh.isEmpty():
                return
        table.upsert(
            fresh.withColumn("_refresh_version", F.lit(int(batch_id))),
            keys=["window_start"],
            version_col="_refresh_version",
        )

    return (
        events_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
