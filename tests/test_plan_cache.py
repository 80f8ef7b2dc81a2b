"""Registry plan cache (queries/__init__.py): a repeat call of a row
replays its analyzed plan without calling the row's function; a
rewritten input file or a changed SQL conf misses; a plan with a leaf
outside ``sf_dir`` or a ``LogicalRDD`` leaf is never cached; and
``cleanup()`` empties the cache."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import regpulse_lakehouse_spark as rl
from regpulse_lakehouse_spark import queries as Q
from regpulse_lakehouse_spark.sources.tpch import load_table

ROW = "f7_priority_subset_recent"


def _counting(fn):
    calls = []

    def counted(spark, sf_dir):
        calls.append(sf_dir)
        return fn(spark, sf_dir)

    return counted, calls


def _nation_by_region(spark, sf_dir):
    return load_table(spark, sf_dir, "nation").groupBy("n_regionkey").count()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _entry(spark, name, sf_dir):
    return Q._PLANS.get(spark, {}).get((name, os.path.abspath(sf_dir)), "absent")


def test_repeat_call_is_served_from_the_cache(spark, sf_dir):
    q = Q.load_all()[ROW]
    first = _rows(q.fn(spark, sf_dir))
    hits = Q.PLAN_CACHE_STATS["hit"]
    again = q.fn(spark, sf_dir)
    assert Q.PLAN_CACHE_STATS["hit"] == hits + 1
    assert _rows(again) == first and first

    counted, calls = _counting(q.fn.__wrapped__)
    row = Q._cached("test:" + ROW, counted)
    assert _rows(row(spark, sf_dir)) == first
    assert _rows(row(spark, sf_dir)) == first
    assert len(calls) == 1


def test_rewritten_input_misses_and_gives_the_new_answer(spark, sf_dir, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), sf / "nation.parquet")
    counted, calls = _counting(_nation_by_region)
    row = Q._cached("test:rewrite", counted)
    before = _rows(row(spark, str(sf)))
    assert _rows(row(spark, str(sf))) == before and len(calls) == 1

    nation = pq.read_table(sf / "nation.parquet")
    pq.write_table(nation.filter(pa.compute.equal(nation["n_regionkey"], 0)), sf / "nation.parquet")
    after = _rows(row(spark, str(sf)))
    assert len(calls) == 2
    assert after == [r for r in before if r[0] == 0] and after != before


def test_changed_session_time_zone_misses(spark, sf_dir):
    counted, calls = _counting(_nation_by_region)
    row = Q._cached("test:timezone", counted)
    row(spark, sf_dir)
    row(spark, sf_dir)
    assert len(calls) == 1
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        row(spark, sf_dir)
        assert len(calls) == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_plans_reading_outside_sf_dir_or_an_rdd_are_never_cached(spark, sf_dir, tmp_path):
    outside = str(tmp_path / "outside.parquet")
    spark.range(3).write.parquet(outside)

    def reads_outside(s, d):
        return load_table(s, d, "region").crossJoin(s.read.parquet(outside))

    def subquery_outside(s, d):
        top = s.read.parquet(outside).select(F.max("id")).scalar()
        return load_table(s, d, "region").where(F.col("r_regionkey") < top)

    def reads_rdd(s, d):
        return load_table(s, d, "region").localCheckpoint(eager=False)

    for name, fn in [("outside", reads_outside), ("subquery", subquery_outside), ("rdd", reads_rdd)]:
        counted, calls = _counting(fn)
        row = Q._cached("test:" + name, counted)
        first = _rows(row(spark, sf_dir))
        assert _rows(row(spark, sf_dir)) == first and first
        assert len(calls) == 2, name
        assert _entry(spark, "test:" + name, sf_dir) is None, name


def test_cleanup_empties_the_cache(spark, sf_dir):
    counted, calls = _counting(_nation_by_region)
    row = Q._cached("test:cleanup", counted)
    row(spark, sf_dir)
    assert _entry(spark, "test:cleanup", sf_dir) not in (None, "absent")
    rl.cleanup()
    assert not Q._PLANS and not Q.PLAN_CACHE_STATS
    row(spark, sf_dir)
    assert len(calls) == 2


def test_concurrent_calls_agree_and_lose_no_count(spark, sf_dir):
    """Rows are called from several threads at once (perfbench's
    warm-up runs four): every call returns the same rows and each one
    is counted as exactly one hit or miss."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    counted, calls = _counting(_nation_by_region)
    row = Q._cached("test:threads", counted)
    expected = _rows(_nation_by_region(spark, sf_dir))
    before = sum(Q.PLAN_CACHE_STATS.values())
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(lambda _: row(spark, sf_dir), range(32), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert all(_rows(df) == expected for df in got)
    assert sum(Q.PLAN_CACHE_STATS.values()) - before == 32
    assert 1 <= len(calls) <= 8
