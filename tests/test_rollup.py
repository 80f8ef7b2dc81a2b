"""Continuous aggregate maintenance (streaming/rollup.py): two separate
availableNow runs over a growing file source must leave the rollup
table equal to the batch recompute over all events — state carries
across restarts via the checkpoint, updates land by upsert."""

from __future__ import annotations

from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
from regpulse_lakehouse_spark.sources.tpch import load_table
from regpulse_lakehouse_spark.streaming.rollup import maintain_rollup
from regpulse_lakehouse_spark.streaming.windows import tumbling_counts


def test_rollup_matches_batch_across_incremental_runs(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    early, late = ev.filter(F.col("ts") <= cut), ev.filter(F.col("ts") > cut)

    src = str(tmp_path / "src")
    table = DeltaLogTable(spark, str(tmp_path / "rollup"))
    ck = str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = maintain_rollup(stream, table, ck, window="1 hour", watermark="2 hours")
        assert q.awaitTermination(120), "maintenance run did not finish"

    # run 1: only the early half exists
    early.write.mode("overwrite").parquet(src)
    run_once()
    n_after_first = table.read().count()
    assert n_after_first > 0

    # run 2: the late half arrives as NEW files; the checkpoint makes the
    # second run process only those, updating touched windows by upsert
    late.write.mode("append").parquet(src)
    run_once()

    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in table.read().select(
            "window_start", "event_type", "n_events", "total_value"
        ).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in tumbling_counts(ev, window="1 hour").collect()
    }
    assert got == want and len(got) > 0
    # the boundary window (touched by both halves) must carry its FULL
    # total — proof the checkpointed aggregation state, not just the
    # second batch's rows, fed the final upsert
    versions = {
        r._refresh_version for r in table.read().select("_refresh_version").collect()
    }
    assert len(versions) > 1  # rows written by different refreshes coexist


def test_distinct_rollup_matches_batch_sketches_across_runs(spark, sf_dir, tmp_path):
    """Two availableNow runs over a growing source leave per-window
    sketches REGISTER-EQUAL to a one-shot batch pass over all events
    (deterministic hash), with estimates near the exact distincts."""
    from regpulse_lakehouse_spark.operators import sketches as SK
    from regpulse_lakehouse_spark.streaming.rollup import maintain_distinct_rollup

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    early, late = ev.filter(F.col("ts") <= cut), ev.filter(F.col("ts") > cut)

    src = str(tmp_path / "dsrc")
    table = DeltaLogTable(spark, str(tmp_path / "drollup"))
    ck = str(tmp_path / "dck")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = maintain_distinct_rollup(stream, table, ck, window="1 hour")
        assert q.awaitTermination(120), "maintenance run did not finish"

    early.write.mode("overwrite").parquet(src)
    run_once()
    late.write.mode("append").parquet(src)
    run_once()

    wcol = F.date_format(F.window(F.col("ts"), "1 hour")["start"], "yyyy-MM-dd HH:mm:ss")
    want = {
        r["window_start"]: dict(r["hll"])
        for r in SK.hll_partials(
            ev.select(wcol.alias("window_start"), "user_id"), ["window_start"], "user_id"
        ).collect()
    }
    got_rows = table.read().collect()
    got = {r["window_start"]: dict(r["hll"]) for r in got_rows}
    assert got == want and len(got) > 0

    exact = {
        r["window_start"]: r["n"]
        for r in ev.select(wcol.alias("window_start"), "user_id")
        .groupBy("window_start")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in got_rows:
        n = exact[r["window_start"]]
        assert abs(r["approx_distinct"] - n) <= max(3, 0.15 * n), r["window_start"]


def test_distinct_rollup_drops_null_ts_and_bounds_merge_to_touched(spark, tmp_path):
    """Null-timestamp events are dropped (a null window key would
    fragment under the join every batch), and a micro-batch that does
    not touch a window leaves its sketch unmodified."""
    from regpulse_lakehouse_spark.streaming.rollup import maintain_distinct_rollup

    rows1 = [("2024-01-01 10:05:00", 1), ("2024-01-01 10:10:00", 2), (None, 99)]
    rows2 = [("2024-01-01 22:05:00", 3), (None, 98)]
    schema = "ts string, user_id long"
    src = str(tmp_path / "nsrc")
    table = DeltaLogTable(spark, str(tmp_path / "nrollup"))
    ck = str(tmp_path / "nck")

    def write(rows, mode):
        spark.createDataFrame(rows, schema).select(
            F.col("ts").cast("timestamp"), "user_id"
        ).write.mode(mode).parquet(src)

    def run_once():
        stream = spark.readStream.schema("ts timestamp, user_id long").parquet(src)
        q = maintain_distinct_rollup(stream, table, ck, window="1 hour")
        assert q.awaitTermination(120)

    write(rows1, "overwrite")
    run_once()
    first = {r["window_start"]: dict(r["hll"]) for r in table.read().collect()}
    assert None not in first and len(first) == 1

    write(rows2, "append")
    run_once()
    rows = table.read().collect()
    got = {r["window_start"]: dict(r["hll"]) for r in rows}
    assert None not in got and len(got) == 2
    # the untouched 10:00 window's sketch is byte-identical to run 1
    assert got["2024-01-01 10:00:00"] == first["2024-01-01 10:00:00"]


def test_freq_rollup_matches_batch_sketches_and_guards_replay(spark, sf_dir, tmp_path):
    """Count-Min rollup: two availableNow runs leave per-window
    sketches register-equal to one-shot cm_partials over all events
    (linearity), point estimates bound the true per-window counts,
    and re-running the SAME source again (replayed batch ids) changes
    nothing — the version guard makes the additive merge replay-safe."""
    from regpulse_lakehouse_spark.operators import sketches as SK
    from regpulse_lakehouse_spark.streaming.rollup import maintain_freq_rollup

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    early, late = ev.filter(F.col("ts") <= cut), ev.filter(F.col("ts") > cut)

    src = str(tmp_path / "fsrc")
    table = DeltaLogTable(spark, str(tmp_path / "frollup"))
    ck = str(tmp_path / "fck")

    def run_once(checkpoint):
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = maintain_freq_rollup(
            stream, table, checkpoint, window="1 hour",
            value_col="event_type", w=256, d=3,
        )
        assert q.awaitTermination(120), "maintenance run did not finish"

    early.write.mode("overwrite").parquet(src)
    run_once(ck)
    late.write.mode("append").parquet(src)
    run_once(ck)

    wcol = F.date_format(F.window(F.col("ts"), "1 hour")["start"], "yyyy-MM-dd HH:mm:ss")
    want = {
        r["window_start"]: dict(r["cm"])
        for r in SK.cm_partials(
            ev.select(wcol.alias("window_start"), "event_type"),
            ["window_start"], "event_type", w=256, d=3,
        ).collect()
    }
    got = {r["window_start"]: dict(r["cm"]) for r in table.read().collect()}
    assert got == want and len(got) > 0

    # replay: a FRESH checkpoint re-delivers every batch with ids the
    # stored windows have already absorbed — the guard must no-op
    run_once(str(tmp_path / "fck2"))
    again = {r["window_start"]: dict(r["cm"]) for r in table.read().collect()}
    assert again == want  # no double counting

    # point estimates: one-sided and close for every (window, type)
    truth = (
        ev.select(wcol.alias("window_start"), "event_type")
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    sk = table.read()
    probe = spark.createDataFrame(
        [(r["window_start"], r["event_type"], r["n"]) for r in truth],
        "window_start string, event_type string, n long",
    ).join(sk, "window_start")
    est = probe.select(
        "n", SK.cm_estimate(F.col("cm"), F.col("event_type"), 256, 3).alias("e")
    ).collect()
    for r in est:
        assert r["e"] >= r["n"]
        assert r["e"] - r["n"] <= max(2, r["n"] // 4)
