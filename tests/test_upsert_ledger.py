"""Property tests for the write-side operators and run ledger
(SURVEY.md §5.3: at-most-one row per key, first/latest-wins, state
machine transitions, ordered replay)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
from regpulse_lakehouse_spark.operators.upsert import (
    dedup_on_keys,
    edge_upsert,
    insert_if_absent,
    upsert_latest_wins,
)
from regpulse_lakehouse_spark.sources import fixtures
from regpulse_lakehouse_spark.streaming import RunLedger


def test_insert_if_absent_is_idempotent(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    new = spark.createDataFrame([(2, "X"), (3, "c")], "id int, v string")
    once = insert_if_absent(base, new, ["id"])
    twice = insert_if_absent(once, new, ["id"])
    assert sorted(tuple(r) for r in once.collect()) == [(1, "a"), (2, "b"), (3, "c")]
    assert sorted(tuple(r) for r in twice.collect()) == sorted(
        tuple(r) for r in once.collect()
    )


def test_upsert_latest_wins(spark):
    base = spark.createDataFrame([(1, "old", 10), (2, "keep", 10)], "id int, v string, ts int")
    upd = spark.createDataFrame([(1, "new", 20), (3, "ins", 5)], "id int, v string, ts int")
    out = upsert_latest_wins(base, upd, ["id"], "ts")
    rows = {r.id: (r.v, r.ts) for r in out.collect()}
    assert rows == {1: ("new", 20), 2: ("keep", 10), 3: ("ins", 5)}
    # at-most-one row per key
    assert out.groupBy("id").count().filter(F.col("count") > 1).count() == 0


def test_upsert_version_tie_prefers_update(spark):
    base = spark.createDataFrame([(1, "old", 10)], "id int, v string, ts int")
    upd = spark.createDataFrame([(1, "new", 10)], "id int, v string, ts int")
    out = upsert_latest_wins(base, upd, ["id"], "ts")
    assert out.collect()[0].v == "new"


def test_edge_upsert_unique_five_tuple(spark, tmp_path):
    links = fixtures.links(spark)
    five = ["from_type", "from_id", "to_type", "to_id", "relation"]
    empty = links.limit(0)
    merged = edge_upsert(empty, links, F.asc("id"))
    assert merged.count() == links.dropDuplicates(five).count()
    again = edge_upsert(merged, links, F.asc("id"))
    assert again.count() == merged.count()


def test_versioned_table_snapshots(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "tbl"))
    assert not t.exists()
    df1 = spark.createDataFrame([(1, "a", 1)], "id int, v string, ts int")
    t.write(df1)
    assert t.version == 0
    t.upsert(spark.createDataFrame([(1, "b", 2)], "id int, v string, ts int"), ["id"], "ts")
    assert t.version == 1
    assert t.read().collect()[0].v == "b"
    t.append(spark.createDataFrame([(2, "c", 3)], "id int, v string, ts int"))
    assert t.read().count() == 2
    t.delete_where(F.col("id") == 1)
    assert [r.id for r in t.read().collect()] == [2]
    t.truncate()
    assert t.read().count() == 0
    # time-travel: every committed snapshot remains readable by version
    assert t.read(version=0).collect()[0].v == "a"
    assert t.read(version=1).collect()[0].v == "b"
    assert t.read(version=2).count() == 2
    with pytest.raises(FileNotFoundError):
        t.read(version=99)


def test_get_or_create_default_store(spark, tmp_path):
    from regpulse_lakehouse_spark.operators.vector import get_or_create_default_store

    t = DeltaLogTable(spark, str(tmp_path / "stores"))
    sid = get_or_create_default_store(t)
    assert sid == get_or_create_default_store(t)  # idempotent
    assert t.read().filter(F.col("provider") == "local").count() == 1


def test_dedup_on_keys_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(1, "z"), (1, "a"), (2, "m")], "k int, v string"
    )
    out = dedup_on_keys(df, ["k"], [F.asc("v")])
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a"), (2, "m")}


def test_run_ledger_state_machine(spark, tmp_path):
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    run_id = ledger.create_run("scan", "EU", 90)
    ledger.log(run_id, "search", "starting")
    ledger.transition(run_id, "running")
    ledger.log(run_id, "process", "working")
    ledger.transition(run_id, "completed", meta={"discovered": "5", "errors": "0"})
    ledger.log(run_id, "complete", "done")

    run = ledger.runs.read().filter(F.col("id") == run_id).collect()[0]
    assert run.status == "completed"
    assert run.completed_at is not None
    assert run.meta["discovered"] == "5"
    # at-most-one ledger row per run id after transitions
    assert ledger.runs.read().groupBy("id").count().filter(F.col("count") > 1).count() == 0

    replay = ledger.replay(run_id).collect()
    assert [r.stage for r in replay] == ["search", "process", "complete"]
    ts = [r.created_at for r in replay]
    assert ts == sorted(ts)


def test_compact_binpacks_fragmented_snapshot(spark, tmp_path):
    """Delta-OPTIMIZE shape: many appended fragments -> one compaction
    commit with file count sized from on-disk bytes; rows identical,
    old versions untouched, sorted variant restores min-max skipping."""
    import os
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    root = str(tmp_path / "frag")
    t = DeltaLogTable(spark, root)
    base = spark.range(0, 4000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    # 8 fragmented appends, each writing multiple small files
    t.write(base.repartition(8))
    for i in range(1, 4):
        t.append(
            spark.range(4000 * i, 4000 * (i + 1))
            .select(F.col("id"), (F.col("id") % 97).alias("k"))
            .repartition(8)
        )
    v_before = t.version
    n_files_before = len(t.active_files())
    rows_before = sorted(r["id"] for r in t.read().collect())

    # generous target -> everything packs into ONE file
    v_after = t.compact(target_file_bytes=1 << 30)
    assert v_after == v_before + 1
    assert len(t.active_files()) == 1 < n_files_before
    assert sorted(r["id"] for r in t.read().collect()) == rows_before
    # time travel still sees the fragmented snapshot
    assert t.read(version=v_before).count() == len(rows_before)

    # sorted compaction: per-file min/max on the sort column must be
    # disjoint (file skipping restored), checked via parquet footers
    t.compact(target_file_bytes=16 * 1024, sort_cols=["id"])
    ranges = []
    for add in t.active_files():
        md = pq.ParquetFile(os.path.join(root, unquote(add["path"]))).metadata
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) > 1  # small target really split the data
    ranges.sort()
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))

    with pytest.raises(ValueError, match="target_file_bytes"):
        t.compact(target_file_bytes=0)


def test_changes_between_versions(spark, tmp_path):
    """Change feed (Delta CDF shape): insert/update/delete classified
    per key between two snapshots; unchanged keys absent; NULL-valued
    columns compared null-safely."""
    t = DeltaLogTable(spark, str(tmp_path / "cdc"))
    v1 = t.write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40)],
            "k int, s string, v int",
        )
    )
    v2 = t.write(
        spark.createDataFrame(
            [(1, "a", 10),          # unchanged -> absent
             (2, "B", 20),          # update
             (3, None, 30),         # unchanged with NULL value -> absent
             (5, "e", 50)],         # insert; 4 deleted
            "k int, s string, v int",
        )
    )
    out = {r["k"]: r for r in t.changes(["k"], from_version=v1, to_version=v2).collect()}
    assert set(out) == {2, 4, 5}
    assert out[2]["_change_type"] == "update_postimage" and out[2]["s"] == "B"
    assert out[4]["_change_type"] == "delete" and out[4]["s"] == "d"  # old image
    assert out[5]["_change_type"] == "insert" and out[5]["v"] == 50
    # default to_version = latest; self-diff is empty
    assert t.changes(["k"], from_version=v1).count() == 3
    assert t.changes(["k"], from_version=v2).count() == 0


def _types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_ledger_tables_keep_the_schema_types(spark, tmp_path):
    from regpulse_lakehouse_spark import schemas

    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    run_id = ledger.create_run("scan", "EU", 30)
    assert _types(ledger.runs.read().schema) == _types(schemas.RUNS)
    ledger.transition(run_id, "completed", meta={"errors": "0"})
    assert _types(ledger.runs.read().schema) == _types(schemas.RUNS)
    ledger.log(run_id, "search", "starting")
    assert _types(ledger.logs.read().schema) == _types(schemas.RUN_LOGS)


def test_fresh_run_is_queued_with_empty_meta(spark, tmp_path):
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    run_id = ledger.create_run("scan", "EU", 30)
    run = ledger.runs.read().collect()[0]
    assert (run.id, run.run_type, run.jurisdiction, run.days_window) == (
        run_id, "scan", "EU", 30
    )
    assert run.status == "queued" and run.started_at is not None
    assert run.meta == {} and run.completed_at is None and run.job_id is None


def test_second_terminal_transition_merges_meta(spark, tmp_path):
    """meta merges like jsonb ``||``: earlier keys stay, a key given
    again takes the new value."""
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    run_id = ledger.create_run("scan", "EU")
    ledger.transition(run_id, "completed", meta={"discovered": "5", "errors": "0"})
    first = ledger.runs.read().collect()[0].completed_at
    ledger.transition(run_id, "failed", meta={"errors": "1", "reason": "late"})
    run = ledger.runs.read().collect()[0]
    assert run.status == "failed"
    assert run.meta == {"discovered": "5", "errors": "1", "reason": "late"}
    assert run.completed_at >= first


def test_transition_of_unknown_run_changes_nothing(spark, tmp_path):
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    a = ledger.create_run("scan", "EU")
    ledger.create_run("merge", "US")
    ledger.transition(a, "completed", meta={"k": "v"})
    before = sorted(str(r) for r in ledger.runs.read().collect())
    v = ledger.runs.version
    ledger.transition("run-unknown", "failed", meta={"x": "y"})
    assert sorted(str(r) for r in ledger.runs.read().collect()) == before
    assert ledger.runs.version == v  # nothing committed


def test_log_rows_replay_in_order(spark, tmp_path):
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    run_id = ledger.create_run("scan", "EU")
    stages = ["search", "fetch", "extract", "validate", "complete"]
    for i, stage in enumerate(stages):
        ledger.log(run_id, stage, f"step {i}")
    ledger.log("run-other", "search", "elsewhere")
    replay = ledger.replay(run_id).collect()
    assert [(r.stage, r.message) for r in replay] == [
        (s, f"step {i}") for i, s in enumerate(stages)
    ]
    assert all(r.meta == {} for r in replay)


def test_ledger_calls_start_no_spark_job(spark, tmp_path):
    """create_run, transition and log read and commit in the driver:
    none of them starts a Spark job."""
    import uuid

    sc = spark.sparkContext
    ledger = RunLedger(spark, str(tmp_path / "ledger"))

    def jobs(fn) -> int:
        group = f"ledger-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "ledger call")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    run_ids = []
    assert jobs(lambda: run_ids.append(ledger.create_run("scan", "EU"))) == 0
    assert jobs(lambda: run_ids.append(ledger.create_run("scan", "US"))) == 0
    assert jobs(lambda: ledger.log(run_ids[0], "search", "starting")) == 0
    assert jobs(lambda: ledger.log(run_ids[0], "process", "working")) == 0
    assert jobs(lambda: ledger.transition(run_ids[0], "running")) == 0
    assert jobs(lambda: ledger.transition(run_ids[0], "completed", {"n": "1"})) == 0
    assert [r.status for r in ledger.runs.read().orderBy("started_at").collect()] == [
        "completed", "queued"
    ]


def test_ledger_run_rows_carry_file_stats(spark, tmp_path):
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    first = ledger.create_run("scan", "EU")
    second = ledger.create_run("scan", "US")
    assert len(ledger.runs.active_files()) == 2
    for run_id in (first, second):
        assert len(ledger.runs.files_where("id", run_id, run_id)) == 1
