"""CHECK constraints on the Delta transaction log
(operators/delta_log.py::add_constraint / drop_constraint /
constraints): spec encoding (``delta.constraints.<name>`` in
metaData.configuration, writer protocol 3), in-job enforcement with no
extra pass over the written data, SQL CHECK null semantics, and
survival across overwrites and checkpoints. Reference validation
parity: the reference gates ingested rows with enum/shape checks
before they land (services/api/src/validation.ts) — here the TABLE
enforces the predicate so no writer can bypass it."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators.delta_log import (
    ConstraintViolationError,
    DeltaLogTable,
)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )


def _mk(spark, tmp_path, name="t"):
    t = DeltaLogTable(spark, str(tmp_path / name))
    t.write(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, None, "c")],
            "id long, qty int, tier string",
        )
    )
    return t


def test_add_enforce_and_null_semantics(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint("qty_pos", "qty > 0")
    assert t.constraints() == {"qty_pos": "qty > 0"}

    v = t.version
    with pytest.raises(ConstraintViolationError, match="qty_pos"):
        t.append(
            spark.createDataFrame(
                [(4, -5, "d")], "id long, qty int, tier string"
            )
        )
    # the failed write committed nothing and left no stage litter
    assert t.version == v
    assert not [
        d for d in os.listdir(t.root) if d.startswith("_stage_")
    ]

    # NULL evaluations PASS (SQL CHECK), valid rows land
    t.append(
        spark.createDataFrame(
            [(4, None, "d"), (5, 50, "e")], "id long, qty int, tier string"
        )
    )
    assert t.read().count() == 5


def test_add_rejects_violating_existing_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v = t.version
    with pytest.raises(ConstraintViolationError, match="existing row"):
        t.add_constraint("qty_big", "qty >= 15")
    assert t.version == v
    assert t.constraints() == {}


def test_protocol_upgrade_and_checkpoint_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t._snapshot().protocol["minWriterVersion"] == 2
    v = t.add_constraint("tier_enum", "tier in ('a','b','c','d','e')")

    log = tmp_path / "t" / "_delta_log" / f"{v:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    protos = [a["protocol"] for a in actions if "protocol" in a]
    assert protos == [{"minReaderVersion": 1, "minWriterVersion": 3}]
    metas = [a["metaData"] for a in actions if "metaData" in a]
    assert metas[0]["configuration"] == {
        "delta.constraints.tier_enum": "tier in ('a','b','c','d','e')"
    }

    cp_v = t.checkpoint()
    fresh = DeltaLogTable(spark, str(tmp_path / "t"))
    assert fresh.constraints() == {
        "tier_enum": "tier in ('a','b','c','d','e')"
    }
    assert fresh._snapshot().protocol["minWriterVersion"] == 3
    # the checkpoint itself carries the upgraded protocol row (what an
    # external checkpoint-seeded reader sees)
    import pyarrow.parquet as pq

    cp = pq.read_table(
        str(tmp_path / "t" / "_delta_log"
            / f"{cp_v:020d}.checkpoint.parquet")
    ).to_pylist()
    proto_rows = [r["protocol"] for r in cp if r.get("protocol")]
    assert proto_rows[0]["minWriterVersion"] == 3
    with pytest.raises(ConstraintViolationError):
        fresh.append(
            spark.createDataFrame(
                [(9, 1, "zz")], "id long, qty int, tier string"
            )
        )


def test_merge_paths_enforce_too(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "m"))
    t.write(
        spark.createDataFrame(
            [(1, 10, 1), (2, 20, 1)], "id long, qty int, ver int"
        )
    )
    t.add_constraint("qty_pos", "qty > 0")
    with pytest.raises(ConstraintViolationError):
        t.upsert(
            spark.createDataFrame([(2, -1, 2)], "id long, qty int, ver int"),
            ["id"],
            "ver",
        )
    # table unchanged by the failed MERGE
    assert _rows(t.read().select("id", "qty")) == [(1, 10), (2, 20)]
    t.upsert(
        spark.createDataFrame([(2, 99, 2)], "id long, qty int, ver int"),
        ["id"],
        "ver",
    )
    assert _rows(t.read().filter("id = 2").select("qty")) == [(99,)]


def test_drop_constraint_and_overwrite_keep_identity(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint("qty_pos", "qty > 0")
    meta_before = t._snapshot().meta

    # overwrite keeps configuration AND table id (spec: stable id)
    t.write(
        spark.createDataFrame(
            [(1, 5, "a")], "id long, qty int, tier string"
        )
    )
    meta_after = t._snapshot().meta
    assert meta_after["id"] == meta_before["id"]
    assert t.constraints() == {"qty_pos": "qty > 0"}
    with pytest.raises(ConstraintViolationError):
        t.append(
            spark.createDataFrame(
                [(6, 0, "f")], "id long, qty int, tier string"
            )
        )

    t.drop_constraint("qty_pos")
    assert t.constraints() == {}
    t.append(
        spark.createDataFrame(
            [(6, 0, "f")], "id long, qty int, tier string"
        )
    )  # now lands
    # protocol never downgrades
    assert t._snapshot().protocol["minWriterVersion"] == 3
    with pytest.raises(ValueError, match="no such constraint"):
        t.drop_constraint("qty_pos")


def test_overwrite_dropping_constrained_column_is_blocked(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint("qty_pos", "qty > 0")
    with pytest.raises(ValueError, match="qty_pos"):
        t.write(spark.createDataFrame([(1, "a")], "id long, tier string"))
    # nothing landed
    assert set(t.read().columns) == {"id", "qty", "tier"}
