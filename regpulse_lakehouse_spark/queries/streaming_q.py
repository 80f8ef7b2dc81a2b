"""Streaming-semantics queries in their batch form — SURVEY.md §2.11
extension operators (tumbling windows, session windows) over the
``events`` stream table.

The transforms live in streaming/windows.py and run unchanged under
``readStream`` + watermark (tests/test_streaming_windows.py proves the
streamed result equals the batch result); here they register with
DuckDB oracles (``time_bucket`` / gaps-and-islands) so the windowing
semantics themselves are differential-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tpch import load_table
from ..streaming.windows import session_windows, tumbling_counts
from . import register


@register(
    "st_tumbling_session_windows",
    oracle="""
    SELECT 'tumbling' AS kind,
           event_type AS key,
           strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 2, 3, 4
    UNION ALL
    SELECT 'session', user_id_s, session_start, session_end, n_events, NULL
    FROM (
      WITH ordered AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id_s, user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ),
      grp AS (
        SELECT user_id_s, user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
      )
      SELECT user_id_s,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM grp
      GROUP BY user_id_s, user_id, sid
    )
    """,
)
def st_tumbling_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows UNION per-user session windows
    (30-minute inactivity gap) in one unified schema (kind, key,
    window_start, window_end, n_events, total_value).

    Both transforms come from streaming/windows.py and run UNCHANGED
    under readStream + watermark (tests/test_streaming_windows.py proves
    stream≡batch through a real file stream); registering their batch
    forms here differential-checks the windowing semantics against DuckDB
    time_bucket / gaps-and-islands SQL. Tumbling buckets are
    epoch-aligned on both engines. Session end = last event + gap; an
    event at exactly ``gap`` after the previous one opens a NEW session
    ([start, end) semantics) — mirrored by the ``>=`` break predicate.
    The two branches aggregate independently (no extra shuffle vs the
    separate queries) and union at the end."""
    ev = load_table(spark, sf_dir, "events")
    tumbling = tumbling_counts(ev, window="1 hour").select(
        F.lit("tumbling").alias("kind"),
        F.col("event_type").alias("key"),
        "window_start",
        F.date_format(
            F.to_timestamp("window_start") + F.expr("INTERVAL 1 HOUR"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("window_end"),
        "n_events",
        "total_value",
    )
    sessions = session_windows(ev, gap="30 minutes").select(
        F.lit("session").alias("kind"),
        F.col("user_id").cast("string").alias("key"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        "n_events",
        F.lit(None).cast("double").alias("total_value"),
    )
    return tumbling.unionByName(sessions)


@register(
    "st_interval_stream_join",
    oracle="""
    SELECT l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS left_ts_iso,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS right_ts_iso
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 6 HOUR
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
)
def st_interval_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join graded through the REAL
    Structured Streaming execution path: the click and purchase event
    slices are staged as two file streams, run through
    ``interval_stream_join`` (StreamingSymmetricHashJoinExec with a
    12-hour watermark bounding state) under an availableNow trigger
    into a parquet sink, and the sink is what the driver hashes — the
    DuckDB oracle is the plain inequality-join the streaming operator
    must equal (clicks joined to same-user purchases within 6 hours).
    Each slice is staged as ONE file so availableNow forms a single
    in-order micro-batch — inner-join mode never drops rows there, so
    stream ≡ batch exactly (the multi-batch/late-data policies are
    exercised in tests/test_streaming_windows.py).

    100 TB shape: state is O(key-skew + within-interval rows), never
    O(stream) — the watermark plus the interval bound let Spark evict
    buffered rows once no future match is possible; this is the ingest
    topology for joining an impression stream to a conversion stream
    without landing either. The stateful stages run at 4 partitions —
    state-store commit overhead is per partition per micro-batch: 32
    one-file stores for a 40k-row rehearsal measured ~2 s of pure
    commit latency, 8 → 4 partitions shaved another ~0.8 s cold (r13;
    a real deployment sizes this to the key cardinality, not down
    from it).

    r15 optimization round: the r12-r13 cross-run /tmp staging of the
    input slices AND the per-sf_dir memoized sink were REMOVED — a
    persisted output keyed on the sf_dir is result caching, and every
    bench invocation must compute from the parquet inputs — so each
    call writes the two slices into a fresh scratch dir, runs the
    availableNow streaming query for real, and returns a read of its
    own sink. What warm iterations now measure is exactly the
    fixed-price streaming machinery (two slice writes + one
    micro-batch of StreamingSymmetricHashJoinExec + 4 state-store
    commits)."""

    import os
    import tempfile

    from ..streaming.windows import interval_stream_join
    from .. import tmpstate

    ev = load_table(spark, sf_dir, "events")
    # per-call scratch: inputs, checkpoint and sink live and die with
    # this invocation's plan (the dir is tmpstate-tracked, so cleanup()
    # or process exit reclaims it; it must outlive the RETURNED plan,
    # which reads the sink lazily at action time)
    root = tmpstate.track(tempfile.mkdtemp(prefix="regpulse_isj_"))
    # r16 (VERDICT r15 item 6): both slices land in ONE job — a single
    # events scan, slice-tagged and written partitionBy("side") from
    # one task, where the old shape ran two jobs each scanning events.
    # coalesce(1) keeps one file per slice dir so availableNow forms a
    # single in-order micro-batch per stream (see above).
    (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.when(F.col("event_type") == "click", F.lit("l"))
            .otherwise(F.lit("r"))
            .alias("side"),
            "user_id",
            "ts",
        )
        .coalesce(1)
        .write.partitionBy("side")
        .parquet(f"{root}/in")
    )
    # partitionBy writes no dir for a side with no rows (a corpus with
    # no clicks or no purchases); the file streams need both to exist
    for side in ("l", "r"):
        os.makedirs(f"{root}/in/side={side}", exist_ok=True)
    user_t = ev.schema["user_id"].dataType.simpleString()
    ts_t = ev.schema["ts"].dataType.simpleString()
    slice_schema = f"user_id {user_t}, ts {ts_t}"
    # the streaming stages run on a newSession() clone (shared
    # SparkContext + table cache, isolated SQLConf) so the 4-partition
    # state-store sizing never touches the caller's shuffle conf — the
    # shingle family's isolation pattern (r15: clone memoized per
    # parent, it is only a conf holder).
    from ..session import scoped_session

    def _setup(s: SparkSession) -> None:
        s.conf.set("spark.sql.shuffle.partitions", "4")
        # r16: availableNow runs a trailing NO-DATA micro-batch whose
        # only effect is advancing the watermark and evicting state —
        # an INNER stream-stream join emits rows on match only, so the
        # sink contents are identical without it, and the extra batch
        # is 4 more state-store commits + one more round of the
        # commit-log protocol per invocation (r16 stage profile: the
        # second streaming stage was pure wait). Outer joins DO emit
        # null-padded rows from no-data batches — this conf lives on
        # the inner-join row's scoped clone, never the parent session.
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    scoped = scoped_session(spark, "isj4", fingerprint="4/nodata-off", setup=_setup)
    l_stream = (
        scoped.readStream.schema(slice_schema)
        .parquet(f"{root}/in/side=l")
        .withColumnRenamed("ts", "l_ts")
    )
    r_stream = (
        scoped.readStream.schema(slice_schema)
        .parquet(f"{root}/in/side=r")
        .withColumnRenamed("ts", "r_ts")
    )
    joined = interval_stream_join(
        l_stream, r_stream, within="6 hours", watermark="12 hours"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Explicit schema on the read-back: a zero-match corpus leaves a
    # data-file-less sink and schema inference would fail where the
    # FileStreamSink metadata log carries the schema.
    sink_schema = f"user_id {user_t}, left_ts {ts_t}, right_ts {ts_t}"
    out = spark.read.schema(sink_schema).parquet(f"{root}/out")
    return out.select(
        "user_id",
        F.date_format("left_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("left_ts_iso"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("right_ts_iso"),
    )
