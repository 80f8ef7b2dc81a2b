"""Streaming extension tests: the windowed/session transforms run
through a REAL file stream (availableNow) and must reproduce the batch
answers — write-once-run-both-modes is the design claim
(streaming/windows.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.sources.tpch import load_table
from regpulse_lakehouse_spark.streaming.windows import tumbling_counts

_AWAIT_MS = 120_000


def _run_stream(q):
    assert q.awaitTermination(_AWAIT_MS // 1000), "stream did not finish in time"


def test_tumbling_stream_equals_batch(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("tumb_complete")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    _run_stream(q)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("tumb_complete").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in tumbling_counts(ev, window="1 hour").collect()
    }
    assert got == want and len(got) > 0


def test_tumbling_append_mode_emits_only_closed_windows(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("tumb_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    _run_stream(q)
    emitted = {
        (r.window_start, r.event_type) for r in spark.table("tumb_append").collect()
    }
    full = {
        (r.window_start, r.event_type) for r in tumbling_counts(ev, "1 hour").collect()
    }
    # append emits exactly the windows closed by the final watermark —
    # a subset of the batch answer, never an invention
    assert emitted <= full
    assert len(emitted) > 0


def test_sliding_windows_stream_equals_batch(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src_slide")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = tumbling_counts(stream, window="1 hour", watermark="2 hours",
                          slide="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("slide_complete")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_slide"))
        .trigger(availableNow=True)
        .start()
    )
    _run_stream(q)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("slide_complete").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in tumbling_counts(ev, "1 hour", slide="30 minutes").collect()
    }
    assert got == want and len(got) > 0
    # sliding windows overlap: every event lands in 2 windows, so the
    # slide rollup counts ~2x the tumbling one
    n_slide = sum(v[0] for v in want.values())
    n_tumb = sum(
        r.n_events for r in tumbling_counts(ev, "1 hour").collect()
    )
    assert n_slide == 2 * n_tumb


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Two real file streams through the watermarked interval join must
    emit exactly the batch join's pairs (inner mode: watermark only
    bounds state, no row may be dropped for an availableNow replay of
    in-order files)."""
    from regpulse_lakehouse_spark.streaming.windows import interval_stream_join

    # synthetic two-stream fixture with KNOWN matches: user u has a
    # right event at +30min (match), +7h (outside 'within'), and -1h
    # (before left_ts -> no match)
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00"), (3, "2024-01-02 00:00:00")],
        "user_id long, l_ts string",
    ).select("user_id", F.col("l_ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 10:30:00"),   # match u1
            (1, "2024-01-01 17:30:00"),   # +7.5h: outside 6h window
            (2, "2024-01-01 11:00:00"),   # before u2's left ts
            (2, "2024-01-01 13:45:00"),   # match u2
            (9, "2024-01-01 12:10:00"),   # no left partner
        ],
        "user_id long, r_ts string",
    ).select("user_id", F.col("r_ts").cast("timestamp"))
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(lsrc)
    right.write.parquet(rsrc)

    l_stream = spark.readStream.schema(left.schema).parquet(lsrc)
    r_stream = spark.readStream.schema(right.schema).parquet(rsrc)
    out = interval_stream_join(
        l_stream, r_stream, within="6 hours", watermark="12 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckj"))
        .trigger(availableNow=True)
        .start()
    )
    _run_stream(q)
    got = sorted(
        (r.user_id, r.left_ts, r.right_ts) for r in spark.table("ssj").collect()
    )
    want = sorted(
        (r.user_id, r.left_ts, r.right_ts)
        for r in interval_stream_join(left, right, within="6 hours").collect()
    )
    assert got == want
    assert [u for u, _, _ in want] == [1, 2]


def test_isj_runs_in_per_call_scratch():
    """r15 optimization round: st_interval_stream_join's cross-run /tmp
    input staging and memoized sink (both keyed on md5(sf_dir)) were
    removed — every bench invocation must compute from the parquet
    inputs, so the row now stages, streams and sinks inside a per-call
    mkdtemp scratch dir. Pin that shape in source: no sf_dir-keyed
    /tmp paths, no early return off an existing directory."""
    import inspect

    from regpulse_lakehouse_spark.queries import streaming_q

    src = inspect.getsource(streaming_q.st_interval_stream_join)
    assert "mkdtemp" in src
    assert "isj_stage_" not in src and "isj_sink_" not in src
    assert "hashlib" not in src


@pytest.mark.parametrize("only", ["click", "purchase"])
def test_isj_with_one_side_empty_returns_no_rows(spark, tmp_path, only):
    """An events table with no purchases (or no clicks) stages no rows
    for that side; the stream join must still start and return an
    empty, correctly typed result instead of failing on a missing
    slice dir."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from regpulse_lakehouse_spark.queries.streaming_q import st_interval_stream_join

    t0 = dt.datetime(2024, 1, 1)
    n = 6
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(hours=i) for i in range(n)],
                           pa.timestamp("us")),
            "user_id": pa.array([i % 2 for i in range(n)], pa.int64()),
            "event_type": [only] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }),
        tmp_path / "events.parquet",
    )
    out = st_interval_stream_join(spark, str(tmp_path))
    assert out.collect() == []
    assert [f.name for f in out.schema] == ["user_id", "left_ts_iso", "right_ts_iso"]


def test_restart_from_checkpoint_recovers_state_and_sink(spark, sf_dir, tmp_path):
    """Kill-and-resume drill (VERDICT r13 task 7): a watermarked
    stateful query stopped MID-STREAM and restarted from the same
    checkpoint dir must drain to a sink identical to an uninterrupted
    run — offsets, watermark, and aggregation state all have to come
    back from the checkpoint (a lost state store would split or
    undercount the windows spanning the stop boundary).

    Both runs consume the same 12 single-file microbatches in the same
    deterministic order (maxFilesPerTrigger=1 + availableNow), so
    exact row equality is the correct bar, not an approximation."""
    import time as _time

    # own await budget: 12 stateful microbatches × ~5 s under full-suite
    # load overruns the shared 120 s (observed in the r14 suite run)
    _await_s = 300

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    # many small files -> many microbatches, so the stop lands mid-stream
    ev.repartition(12).write.parquet(src)

    def run(sink: str, ckpt: str, stop_after_batches: int | None = None) -> bool:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = tumbling_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if stop_after_batches is None:
            assert q.awaitTermination(_await_s), "stream did not finish in time"
            return True
        deadline = _time.time() + _await_s
        while q.isActive and _time.time() < deadline:
            if len(q.recentProgress) >= stop_after_batches:
                q.stop()
                q.awaitTermination(_await_s)
                return True  # stopped mid-stream
            _time.sleep(0.2)
        q.awaitTermination(_await_s)
        return False  # drained before we could stop it

    # uninterrupted twin
    run(str(tmp_path / "sink_full"), str(tmp_path / "ck_full"))
    # interrupted run: stop after a few microbatches, then resume from
    # the SAME checkpoint into the SAME sink
    stopped_early = run(
        str(tmp_path / "sink_cut"), str(tmp_path / "ck_cut"), stop_after_batches=3
    )
    run(str(tmp_path / "sink_cut"), str(tmp_path / "ck_cut"))

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    got, want = rows(str(tmp_path / "sink_cut")), rows(str(tmp_path / "sink_full"))
    assert got == want and len(want) > 0
    # the drill only proves recovery if the first run really was cut
    # short; 12 batches of stateful agg vs a stop at 3 makes a full
    # drain before the stop effectively impossible — fail loudly if the
    # machinery ever changes enough that it happens
    assert stopped_early, "query drained before the mid-stream stop; raise the file count"
