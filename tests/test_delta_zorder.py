"""OPTIMIZE ZORDER BY over the Delta transaction log
(operators/delta_log.py::zorder_by): multi-column clustering so file
stats prune range predicates on EVERY z-ordered column, where a linear
``compact(sort_cols=[a])`` only ever prunes the leading sort column.
Reference data-layout motivation: the reference serves multi-facet
range browses (services/api/src/routes.ts date + domain + tier
filters) that at 100 TB must skip files on whichever facet the user
constrains, not just the one the table happens to be sorted by."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )


def _grid_df(spark, side=64, payload=32):
    """side×side grid with x and y independent (y is a bit-reversal
    permutation of the row index — deterministic, uniform on both
    axes, and maximally UNCORRELATED with x, the adversarial case for
    single-column sorting)."""
    n = side * side
    rev_bits = side.bit_length() - 1

    def rev(i):
        out = 0
        for b in range(rev_bits):
            out = (out << 1) | ((i >> b) & 1)
        return out

    rows = [
        (i, i // side, rev(i % side), "p" * payload) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "row_id long, x int, y int, payload string"
    ).repartition(8)  # arrival order scrambled across files


def _sixteen_file_target(t):
    total = sum(a["size"] for a in t.active_files())
    return max(1, total // 16)


def test_zorder_loses_to_an_append_after_its_snapshot(spark, tmp_path):
    """An append that lands after zorder_by read its snapshot takes the
    version the OPTIMIZE targets: zorder_by raises instead of
    committing a dataChange=false rewrite that copies the racer's rows
    while the racer's own file stays active (rows doubled)."""
    from tests.test_delta_log import race_after_snapshot

    schema = "row_id long, x int, y int"
    base = [(i, i % 5, i // 5) for i in range(20)]
    raced = [(100, 0, 0), (101, 4, 3)]
    root = str(tmp_path / "t")
    t = DeltaLogTable(spark, root)
    t.write(spark.createDataFrame(base, schema))
    racer = DeltaLogTable(spark, root)
    race_after_snapshot(t, lambda: racer.append(spark.createDataFrame(raced, schema)))
    with pytest.raises(FileExistsError):
        t.zorder_by(["x", "y"])
    got = t.read()
    assert got.select("row_id").distinct().count() == got.count() == 22
    assert _rows(got) == sorted(base + raced)


def test_zorder_preserves_rows_marks_no_data_change(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    df = _grid_df(spark, side=16)
    t.write(df)
    before = _rows(t.read())
    v = t.zorder_by(["x", "y"], target_file_bytes=_sixteen_file_target(t))

    assert _rows(t.read()) == before
    log = tmp_path / "t" / "_delta_log" / f"{v:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a["remove"] for a in actions if "remove" in a]
    assert adds and removes
    assert all(a["dataChange"] is False for a in adds)
    assert all(r["dataChange"] is False for r in removes)
    info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
    assert json.loads(info["operationParameters"]["zOrderBy"]) == ["x", "y"]
    # CDC: a dataChange-false commit contributes no keyed changes
    assert t.changes(["row_id"], v - 1, v).count() == 0


def test_zorder_prunes_on_every_listed_column(spark, tmp_path):
    """The headline property: after ZORDER BY (x, y), a range predicate
    on x AND one on y each skip most files; after a linear sort on x,
    the y predicate scans everything."""
    df = _grid_df(spark, side=64)

    lin = DeltaLogTable(spark, str(tmp_path / "lin"))
    lin.write(df)
    lin.compact(
        target_file_bytes=_sixteen_file_target(lin), sort_cols=["x"]
    )

    zt = DeltaLogTable(spark, str(tmp_path / "z"))
    zt.write(df)
    zt.zorder_by(["x", "y"], target_file_bytes=_sixteen_file_target(zt))

    n_lin = len(lin.active_files())
    n_z = len(zt.active_files())
    assert n_lin >= 8 and n_z >= 8  # enough files for skipping to show

    # leading column: both layouts prune a narrow x range hard
    assert len(lin.files_where("x", 0, 7)) <= n_lin // 2
    assert len(zt.files_where("x", 0, 7)) <= n_z // 2

    # second column: the linear layout is blind, the z layout is not
    lin_y = len(lin.files_where("y", 0, 7))
    z_y = len(zt.files_where("y", 0, 7))
    assert lin_y >= n_lin - 1  # every x-run spans all y: ~no skipping
    assert z_y <= n_z // 2
    assert z_y < lin_y

    # and skipping is still only an optimization: answers match
    expect = _rows(df.filter(F.col("y").between(0, 7)))
    assert _rows(zt.read_where("y", 0, 7)) == expect
    assert _rows(lin.read_where("y", 0, 7)) == expect


def test_zorder_strings_nulls_and_dates(spark, tmp_path):
    """Non-numeric z columns: string ranks by sampled quantiles, dates
    through their epoch-day proxy, NULLs cluster at rank 0 and are
    never dropped."""
    rows = [
        (
            i,
            None if i % 97 == 0 else f"k{i % 320:04d}",
            f"2024-{1 + (i * 7) % 12:02d}-{1 + (i * 13) % 28:02d}",
        )
        for i in range(4096)
    ]
    df = (
        spark.createDataFrame(rows, "id long, name string, d string")
        .withColumn("d", F.to_date("d"))
        .repartition(8)
    )
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(df)
    before = _rows(t.read())
    t.zorder_by(["name", "d"], target_file_bytes=_sixteen_file_target(t))
    assert _rows(t.read()) == before

    n = len(t.active_files())
    assert n >= 8
    assert len(t.files_where("name", "k0000", "k0039")) <= n // 2
    assert _rows(t.read_where("name", "k0000", "k0039")) == _rows(
        df.filter(F.col("name").between("k0000", "k0039"))
    )
    assert t.read().filter(F.col("name").isNull()).count() == len(
        [r for r in rows if r[1] is None]
    )


def test_zorder_on_partitioned_table(spark, tmp_path):
    """Partition columns stay in the hive layout (and are rejected as
    z columns); the z clustering applies within partitions and file
    stats still prune the z columns."""
    df = _grid_df(spark, side=32).withColumn(
        "bucket", (F.col("row_id") % 2).cast("int")
    )
    t = DeltaLogTable(
        spark, str(tmp_path / "t"), partition_columns=["bucket"]
    )
    t.write(df)
    before = _rows(t.read())
    with pytest.raises(ValueError, match="partition column"):
        t.zorder_by(["bucket", "x"])
    t.zorder_by(["x", "y"], target_file_bytes=_sixteen_file_target(t))

    assert _rows(t.read()) == before
    # hive dirs survived; partition pruning intact
    assert len(t.files_where("bucket", 1, 1)) < len(t.active_files())
    n = len(t.active_files())
    if n >= 8:
        assert len(t.files_where("y", 0, 3)) <= max(2, n * 3 // 4)
    assert _rows(t.read_where("y", 0, 3)) == _rows(
        df.filter(F.col("y").between(0, 3))
    )


def test_zorder_degenerate_constant_column(spark, tmp_path):
    """A constant (or all-null) z column yields rank 0 everywhere —
    no crash, rows preserved, the other column still clusters."""
    df = _grid_df(spark, side=16).withColumn("c", F.lit(5))
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(df)
    before = _rows(t.read())
    t.zorder_by(["c", "x"], target_file_bytes=_sixteen_file_target(t))
    assert _rows(t.read()) == before
    n = len(t.active_files())
    if n >= 4:
        assert len(t.files_where("x", 0, 1)) <= max(2, n // 2)


@pytest.mark.parametrize("target", [0, -1])
def test_zorder_rejects_a_nonpositive_target(spark, tmp_path, target):
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, 2), (3, 4)], "x int, y int"))
    v = t.version
    with pytest.raises(ValueError, match="target_file_bytes"):
        t.zorder_by(["x", "y"], target_file_bytes=target)
    assert t.version == v
