"""Incremental near-dup against a persisted signature store
(streaming/near_dup.py): cross-batch detection, intra-batch detection,
store growth, no self-pairs, and agreement with the batch operator on
the union of the batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators.dedup import minhash_near_dup_pairs
from regpulse_lakehouse_spark.streaming.near_dup import (
    PartitionedSignatureStore,
    banded_signatures,
    bulk_ingest_near_dup,
    incremental_near_dup,
)


@pytest.fixture()
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    variant = base.replace("lazy", "sleepy")
    other = "completely different content about spark query engines and parquet files"
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        # 10: near-dup of batch-1 doc 1; 11+12: near-dups of each other
        [(10, variant), (11, other + " with a tail"), (12, other + " with a tail!")],
        "doc_id long, text string",
    )
    return b1, b2


def test_cross_and_intra_batch_detection(spark, corpus, tmp_path):
    b1, b2 = corpus
    store = PartitionedSignatureStore(spark, str(tmp_path / "sigstore"))

    first = incremental_near_dup(b1, store, threshold=0.4).collect()
    assert first == []  # nothing ingested before batch 1, no intra dups
    n_store_1 = store.read().count()
    assert n_store_1 > 0

    pairs = {
        (r["new_id"], r["old_id"]): r["est_jaccard"]
        for r in incremental_near_dup(b2, store, threshold=0.4).collect()
    }
    assert (10, 1) in pairs            # cross-batch: found in the store
    assert (12, 11) in pairs           # intra-batch: found in the same batch
    assert all(a != b for a, b in pairs)
    assert store.read().count() > n_store_1  # store grew by batch 2


def test_matches_batch_operator_on_union(spark, corpus, tmp_path):
    b1, b2 = corpus
    store = PartitionedSignatureStore(spark, str(tmp_path / "sigstore2"))
    inc = set()
    for b in (b1, b2):
        for r in incremental_near_dup(b, store, threshold=0.4).collect():
            inc.add(frozenset((r["new_id"], r["old_id"])))
    batch = {
        frozenset((r["a"], r["b"]))
        for r in minhash_near_dup_pairs(
            b1.unionByName(b2), "text", "doc_id", num_hashes=16, num_bands=4,
            threshold=0.4,
        ).collect()
    }
    assert inc == batch


def test_deferred_execution_pins_pre_append_state(spark, corpus, tmp_path):
    """materialize=False: batch plans built BEFORE later appends must
    still read only their pre-append store state when executed at the
    very end (the frozen-file-index pin), and the union must equal the
    eager form AND the batch operator."""
    b1, b2 = corpus
    store = PartitionedSignatureStore(spark, str(tmp_path / "lazy"), n_prefix=4)
    p1 = incremental_near_dup(b1, store, threshold=0.4, materialize=False)
    p2 = incremental_near_dup(b2, store, threshold=0.4, materialize=False)
    # nothing executed yet for the pairs; both appends have happened.
    # executing now must NOT let batch 1 see batch 2's signatures (a
    # fresh listing would make doc 1 report doc 10 — ingested later —
    # as its duplicate).
    got1 = {(r["new_id"], r["old_id"]) for r in p1.collect()}
    assert got1 == set()  # batch 1 had no history and no intra pairs
    inc = {frozenset((r["new_id"], r["old_id"])) for r in p2.collect()}
    batch = {
        frozenset((r["a"], r["b"]))
        for r in minhash_near_dup_pairs(
            b1.unionByName(b2), "text", "doc_id", num_hashes=16, num_bands=4,
            threshold=0.4,
        ).collect()
    }
    assert inc == batch


def test_store_scan_is_not_shuffled(spark, corpus, tmp_path):
    b1, b2 = corpus
    store = PartitionedSignatureStore(spark, str(tmp_path / "sigstore3"))
    incremental_near_dup(b1, store, threshold=0.4)
    new_side = banded_signatures(b2).select(
        F.col("doc_id").alias("new_id"), F.col("sig").alias("sig_new"), "band", "bucket"
    )
    old_side = store.read().select(
        F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old"), "band", "bucket"
    )
    plan = (
        F.broadcast(new_side).join(old_side, ["band", "bucket"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the store side must not sit under a join-required Exchange: the
    # broadcast side is the batch, so the history is scanned once,
    # never shuffled. The only hash exchange in the plan is the batch
    # side's deliberate fan_out (REPARTITION_BY_NUM); a store shuffle
    # would appear as an ENSURE_REQUIREMENTS exchange.
    assert "ENSURE_REQUIREMENTS" not in plan


def test_retried_batch_reports_no_self_pairs(spark, corpus, tmp_path):
    b1, _ = corpus
    store = PartitionedSignatureStore(spark, str(tmp_path / "sigstore4"))
    incremental_near_dup(b1, store, threshold=0.4)
    # replay the same batch (foreachBatch retry after the append landed)
    pairs = incremental_near_dup(b1, store, threshold=0.4).collect()
    assert all(r["new_id"] != r["old_id"] for r in pairs)


def test_partitioned_store_matches_snapshot_store(spark, corpus, tmp_path):
    """Batch by batch, the hive-partitioned (batch/band/bp) store must
    hold exactly the banded signatures of every batch ingested so far,
    and the pairs it has reported must be exactly the batch operator's
    pairs, scores included, over those batches."""
    b1, b2 = corpus
    part = PartitionedSignatureStore(spark, str(tmp_path / "part"), n_prefix=16)
    seen, reported = None, set()
    for b in (b1, b2):
        seen = b if seen is None else seen.unionByName(b)
        reported |= {
            (frozenset((r["new_id"], r["old_id"])), r["est_jaccard"])
            for r in incremental_near_dup(b, part, threshold=0.4).collect()
        }
        want = {
            (frozenset((r["a"], r["b"])), r["est_jaccard"])
            for r in minhash_near_dup_pairs(
                seen, "text", "doc_id", num_hashes=16, num_bands=4, threshold=0.4
            ).collect()
        }
        assert reported == want
        cols = ("doc_id", "band", "bucket")
        stored = sorted(tuple(r) for r in part.read().select(*cols).collect())
        assert stored == sorted(
            tuple(r) for r in banded_signatures(seen).select(*cols).collect()
        )
    assert reported  # the corpus holds cross- and intra-batch pairs


def test_partitioned_store_prunes_partitions(spark, tmp_path):
    """The probed-keys read must carry the (band, bp) predicate as
    PartitionFilters — directory pruning, not a post-scan filter — and
    return exactly the probed partitions' rows."""
    store = PartitionedSignatureStore(spark, str(tmp_path / "ps"), n_prefix=8)
    df = spark.createDataFrame(
        [(i, f"doc number {i} with some words {i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    incremental_near_dup(df, store, threshold=0.9)

    probe = [(0, 1), (0, 2), (1, 1)]
    pruned = store.read(probe)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:220] if "PartitionFilters" in plan else ""
    assert "band" in pf and "bp" in pf, f"no partition pruning in plan: {plan[:400]}"
    got = {(r["band"], r["bp"]) for r in pruned.select("band", "bp").distinct().collect()}
    assert got <= set(probe)
    # a retried/duplicate append stays readable and committed-only:
    # uncommitted data is invisible
    import os

    os.makedirs(str(tmp_path / "ps" / "batch=99"), exist_ok=True)  # no marker
    full = store.read()
    assert {r["batch"] for r in full.select("batch").distinct().collect()} == {1}


def test_bulk_ingest_matches_sequential_ingest(spark, tmp_path):
    """r16: bulk_ingest_near_dup (one write job over one signature
    pass) must reproduce the sequential per-batch path EXACTLY — same
    store layout, same per-batch pair sets with the same scores — on a
    real corpus slice with cross- and intra-batch duplicates."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    batch_expr = F.pmod("doc_id", F.lit(3)) + F.lit(1)

    seq_store = PartitionedSignatureStore(spark, str(tmp_path / "seq"), n_prefix=2)
    seq = set()
    for i in range(3):
        batch = docs.filter(F.pmod("doc_id", F.lit(3)) == i)
        for r in incremental_near_dup(
            batch, seq_store, threshold=0.4, materialize=False
        ).collect():
            seq.add((r["new_id"], r["old_id"], r["est_jaccard"]))

    bulk_store = PartitionedSignatureStore(spark, str(tmp_path / "bulk"), n_prefix=2)
    got = {
        (r["new_id"], r["old_id"], r["est_jaccard"])
        for r in bulk_ingest_near_dup(
            docs, bulk_store, batch_expr, 3, threshold=0.4
        ).collect()
    }
    assert got == seq and len(got) > 0

    # identical store layout: same committed batches, same rows in the
    # same (batch, band, bp) partitions
    assert seq_store._committed() == bulk_store._committed() == [1, 2, 3]
    a = sorted(
        tuple(r)
        for r in seq_store.read().select("doc_id", "batch", "band", "bp", "bucket").collect()
    )
    b = sorted(
        tuple(r)
        for r in bulk_store.read().select("doc_id", "batch", "band", "bp", "bucket").collect()
    )
    assert a == b


def test_bulk_ingest_retry_after_crashed_write_does_not_double(spark, corpus, tmp_path):
    """A bulk write that crashed before its commit markers leaves
    uncommitted batch=* files under the store root; the retry must
    produce the same pairs and the same store rows as one clean run,
    not append a second copy next to the leftovers."""
    import os

    b1, b2 = corpus
    docs = b1.unionByName(b2)
    batch_expr = F.when(F.col("doc_id") < 10, 1).otherwise(2)

    def pairs(df):
        return sorted(tuple(r) for r in df.collect())

    def stored(store):
        return sorted(
            tuple(r) for r in store.read().select("doc_id", "batch", "band", "bucket").collect()
        )

    clean = PartitionedSignatureStore(spark, str(tmp_path / "clean"), n_prefix=2)
    want = pairs(bulk_ingest_near_dup(docs, clean, batch_expr, 2, threshold=0.4))
    assert want

    root = str(tmp_path / "crashed")
    store = PartitionedSignatureStore(spark, root, n_prefix=2)
    bulk_ingest_near_dup(docs, store, batch_expr, 2, threshold=0.4)
    # the crash: data files written, commit markers never landed
    for marker in os.listdir(os.path.join(root, "_commits")):
        os.remove(os.path.join(root, "_commits", marker))

    retry = PartitionedSignatureStore(spark, root, n_prefix=2)
    got = pairs(bulk_ingest_near_dup(docs, retry, batch_expr, 2, threshold=0.4))
    assert got == want
    assert stored(retry) == stored(clean)


def test_bulk_ingest_refuses_nonempty_store(spark, corpus, tmp_path):
    b1, _ = corpus
    store = PartitionedSignatureStore(spark, str(tmp_path / "ne"), n_prefix=2)
    incremental_near_dup(b1, store, threshold=0.4)
    with pytest.raises(ValueError, match="empty store"):
        bulk_ingest_near_dup(b1, store, F.lit(1), 1)


def test_bulk_ingest_tolerates_an_empty_batch(spark, corpus, tmp_path):
    """A batch expression that assigns no rows to some batch id must
    still commit that batch (as sequential ingestion of an empty batch
    would) and keep the other batches' pair plans readable."""
    b1, _ = corpus  # doc_ids 1 and 2 — batch 3 (id >= 100) stays empty
    store = PartitionedSignatureStore(spark, str(tmp_path / "eb"), n_prefix=2)
    batch_expr = F.when(F.col("doc_id") >= 100, F.lit(3)).otherwise(
        F.col("doc_id")
    )
    pairs = bulk_ingest_near_dup(b1, store, batch_expr, 3, threshold=0.4).collect()
    assert store._committed() == [1, 2, 3]
    assert all(r["new_id"] != r["old_id"] for r in pairs)
