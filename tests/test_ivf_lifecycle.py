"""IVF-PQ index lifecycle (operators/quantize.py): append idempotency,
tombstone deletes with batch-scoped masking, compaction ≡ survivors,
torn-write safety, and CDC-driven maintenance — the same contract the
BM25 index carries (tests/test_retrieval.py), applied to the vector
side so both retrieval legs can be maintained incrementally."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators import quantize as Q
from regpulse_lakehouse_spark.sources.tpch import load_table


def _split(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    return corpus, queries


def _results(spark, root, queries, k=5):
    rows = Q.ivf_pq_search(spark, root, queries, n_probe=4, k=k).collect()
    return {(r["query_id"], r["vec_id"]) for r in rows}


def test_append_is_idempotent_under_batch_ref(spark, sf_dir, tmp_path):
    corpus, queries = _split(spark, sf_dir)
    half1 = corpus.filter(F.col("vec_id") % 2 == 0)
    half2 = corpus.filter(F.col("vec_id") % 2 == 1)
    root = str(tmp_path / "ivf")
    Q.ivf_pq_build(half1, root, n_centroids=8)
    b = Q.ivf_pq_append(spark, root, half2, batch_ref="day-2")
    assert b == 2
    assert Q.ivf_pq_append(spark, root, half2, batch_ref="day-2") == 0
    # the replay added nothing: exactly one code batch per vector set
    batches = {r["batch"] for r in spark.read.parquet(root).select("batch").distinct().collect()}
    assert batches == {1, 2}
    assert len(_results(spark, root, queries)) == 15


def test_delete_masks_results_and_reappend_survives(spark, sf_dir, tmp_path):
    corpus, queries = _split(spark, sf_dir)
    root = str(tmp_path / "ivf")
    Q.ivf_pq_build(corpus, root, n_centroids=8)
    before = _results(spark, root, queries)
    victims = sorted({vid for _, vid in before})[:3]
    Q.ivf_pq_delete(spark, root, victims)
    after = _results(spark, root, queries)
    assert not {p for p in after if p[1] in set(victims)}
    assert after != before
    # batch-scoped mask: re-appending one victim makes it findable again
    back = corpus.filter(F.col("vec_id") == victims[0])
    Q.ivf_pq_append(spark, root, back)
    revived = _results(spark, root, queries, k=10)
    assert victims[0] in {vid for _, vid in revived}


def test_delete_is_idempotent_and_typed(spark, sf_dir, tmp_path):
    corpus, queries = _split(spark, sf_dir)
    root = str(tmp_path / "ivf")
    Q.ivf_pq_build(corpus, root, n_centroids=8)
    assert Q.ivf_pq_delete(spark, root, [7, 9], batch_ref="purge-1") == 2
    assert Q.ivf_pq_delete(spark, root, [7, 9], batch_ref="purge-1") == 0
    # int ids against bigint index: lossless widening casts silently
    ids_int = spark.createDataFrame([(11,)], "vec_id int")
    assert Q.ivf_pq_delete(spark, root, ids_int) > 0
    # strings against bigint: rejected loudly
    ids_str = spark.createDataFrame([("11",)], "vec_id string")
    with pytest.raises(TypeError, match="mis-mask"):
        Q.ivf_pq_delete(spark, root, ids_str)


def test_compact_equals_fresh_build_over_survivors(spark, sf_dir, tmp_path):
    """After append + delete + compact, search must return exactly what
    it returned pre-compaction (the mask made physical), tombstones and
    extra batches must be gone from disk, and folded refs must keep
    replays no-ops."""
    corpus, queries = _split(spark, sf_dir)
    half1 = corpus.filter(F.col("vec_id") % 2 == 0)
    half2 = corpus.filter(F.col("vec_id") % 2 == 1)
    root = str(tmp_path / "ivf")
    Q.ivf_pq_build(half1, root, n_centroids=8)
    Q.ivf_pq_append(spark, root, half2, batch_ref="day-2")
    victims = [r["vec_id"] for r in half2.limit(2).collect()]
    Q.ivf_pq_delete(spark, root, victims, batch_ref="purge-1")
    before = _results(spark, root, queries, k=8)
    folded = Q.ivf_pq_compact(spark, root)
    assert folded == 3  # two code batches + one tombstone batch
    assert _results(spark, root, queries, k=8) == before
    assert not os.path.isdir(f"{root}/_deletes")
    batches = {r["batch"] for r in spark.read.parquet(root).select("batch").distinct().collect()}
    assert batches == {1}
    # purged vectors are physically gone, not just masked
    ids_on_disk = {r["vec_id"] for r in spark.read.parquet(root).select("vec_id").collect()}
    assert not ids_on_disk & set(victims)
    # replays of folded batches stay no-ops
    assert Q.ivf_pq_append(spark, root, half2, batch_ref="day-2") == 0
    assert Q.ivf_pq_delete(spark, root, victims, batch_ref="purge-1") == 0


def test_torn_write_without_marker_is_invisible(spark, sf_dir, tmp_path):
    """Deleting a commit marker (simulating a crash between data write
    and commit) must hide that batch from search AND from the next
    batch numbering's correctness."""
    corpus, queries = _split(spark, sf_dir)
    half1 = corpus.filter(F.col("vec_id") % 2 == 0)
    half2 = corpus.filter(F.col("vec_id") % 2 == 1)
    root = str(tmp_path / "ivf")
    Q.ivf_pq_build(half1, root, n_centroids=8)
    only_half1 = _results(spark, root, queries)
    b = Q.ivf_pq_append(spark, root, half2)
    os.remove(f"{root}/_commits/{b}")
    assert _results(spark, root, queries) == only_half1


def test_cdc_feed_maintains_the_index(spark, sf_dir, tmp_path):
    """insert/update/delete change rows route into tombstone + append
    legs; after compaction the index equals a fresh build over the
    post-change corpus (same quantizers — the build is seeded from the
    same initial corpus)."""
    corpus, queries = _split(spark, sf_dir)
    root = str(tmp_path / "ivf")
    Q.ivf_pq_build(corpus, root, n_centroids=8)
    # change feed: delete 2 vectors, "update" 2 others to new
    # embeddings (reverse them), insert nothing new
    vids = sorted(r["vec_id"] for r in corpus.select("vec_id").limit(4).collect())
    dels = (
        corpus.filter(F.col("vec_id").isin(vids[:2]))
        .select("vec_id")
        .withColumn("_change_type", F.lit("delete"))
        .withColumn("embedding", F.lit(None).cast("array<float>"))
    )
    upds = (
        corpus.filter(F.col("vec_id").isin(vids[2:]))
        .select("vec_id", F.reverse("embedding").alias("embedding"))
        .withColumn("_change_type", F.lit("update_postimage"))
    )
    Q.apply_changes_to_ivf_pq_index(
        dels.unionByName(upds), root, batch_ref="feed-1"
    )
    # replay of the same feed: both legs no-op
    Q.apply_changes_to_ivf_pq_index(
        dels.unionByName(upds), root, batch_ref="feed-1"
    )
    got = _results(spark, root, queries, k=10)
    assert not {p for p in got if p[1] in set(vids[:2])}
    # updated vectors are served from their NEW embedding: their old
    # codes are masked (only one committed code row per updated id
    # should survive the mask at search time)
    live = spark.read.parquet(root).filter(F.col("vec_id").isin(vids[2:]))
    assert live.select("batch").distinct().count() == 2  # old + new batches on disk
    Q.ivf_pq_compact(spark, root)
    on_disk = spark.read.parquet(root).filter(F.col("vec_id").isin(vids[2:]))
    assert on_disk.select("batch").distinct().count() == 1  # old codes purged
    assert _results(spark, root, queries, k=10) == got


def test_append_to_missing_index_fails_loudly(spark, sf_dir, tmp_path):
    corpus, _ = _split(spark, sf_dir)
    with pytest.raises(FileNotFoundError, match="no committed IVF-PQ index"):
        Q.ivf_pq_append(spark, str(tmp_path / "nope"), corpus)
    with pytest.raises(FileNotFoundError, match="no committed IVF-PQ index"):
        Q.ivf_pq_delete(spark, str(tmp_path / "nope"), [1])


def test_one_cdc_feed_maintains_both_retrieval_legs(spark, tmp_path):
    """The lifecycle cohesion claim: a single document change feed
    (text + re-embedded vector) routes into BOTH persisted indexes —
    apply_changes_to_bm25_index and apply_changes_to_ivf_pq_index —
    and each leg serves the post-change state: the deleted doc
    vanishes from bm25_search and ivf_pq_search, and the updated doc
    is found under its NEW text and its NEW vector. The vector leg
    ranks by ADC over the stored codes (no rescore table), so only the
    index's delete mask and appended codes can change its answer."""
    import numpy as np

    from regpulse_lakehouse_spark.operators import retrieval as R

    rng = np.random.default_rng(42)
    # unit vectors: ADC scores the inner product, which ranks like the
    # cosine only when every norm is 1
    units = rng.normal(size=(30, 8))
    units /= np.linalg.norm(units, axis=1, keepdims=True)
    docs = [
        (i, f"doc{i} generic corpus filler text", [float(x) for x in units[i]])
        for i in range(30)
    ]
    docs[5] = (5, "doc5 about solvent margins", docs[5][2])
    schema = "doc_id long, text string, embedding array<double>"
    df = spark.createDataFrame(docs, schema)
    bm25 = str(tmp_path / "bm25")
    ivf = str(tmp_path / "ivf")
    R.write_bm25_index(df, bm25, n_buckets=4)
    import regpulse_lakehouse_spark.operators.quantize as Q

    Q.ivf_pq_build(df.select(F.col("doc_id").alias("vec_id"), "embedding"),
                   ivf, n_centroids=4, m=4)

    qvec = docs[5][2]
    qdf = spark.createDataFrame([("q0", qvec)], "query_id string, qe array<double>")

    def legs():
        lex = [r["doc_id"] for r in R.bm25_search(spark, bm25, "solvent margins", k=5).collect()]
        sem = Q.ivf_pq_search(spark, ivf, qdf, n_probe=4, k=5).orderBy(
            F.desc("adc_score"), "vec_id"
        ).collect()
        return lex, [r["vec_id"] for r in sem]

    lex, sem = legs()
    assert lex == [5]
    assert sem and sem[0] == 5

    # one feed: delete doc 5, update doc 7's text AND embedding to
    # become the new solvent-margins doc
    new_vec = [float(x) for x in qvec]
    changes = spark.createDataFrame(
        [
            (5, None, None, "delete"),
            (7, "doc7 now covers solvent margins too", new_vec, "update_postimage"),
        ],
        "doc_id long, text string, embedding array<double>, _change_type string",
    )
    R.apply_changes_to_bm25_index(changes, bm25, batch_ref="feed-9")
    Q.apply_changes_to_ivf_pq_index(
        changes.select(F.col("doc_id").alias("vec_id"), "embedding", "_change_type"),
        ivf, batch_ref="feed-9",
    )
    lex, sem = legs()
    assert lex == [7]
    assert 5 not in sem
    assert sem and sem[0] == 7


def test_health_reports_layout_balance_and_drift(spark, tmp_path):
    """The monitor for the frozen-quantizer trade: a batch drawn from a
    SHIFTED embedding distribution must show a lower mean centroid
    similarity than the build batch (positive drift), and the layout/
    balance numbers must track appends, deletes and compaction."""
    import numpy as np

    rng = np.random.default_rng(3)
    dim = 8
    base = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(200)]
    # shifted distribution: a constant offset pushes every vector away
    # from the centroids trained on `base`
    shifted = [(1000 + i, [float(x + 5.0) for x in rng.normal(size=dim)])
               for i in range(200)]
    schema = "vec_id long, embedding array<double>"
    root = str(tmp_path / "ivf")
    Q.ivf_pq_build(spark.createDataFrame(base, schema), root, n_centroids=8, m=4)
    Q.ivf_pq_append(spark, root, spark.createDataFrame(shifted, schema))
    Q.ivf_pq_delete(spark, root, [0, 1, 2])
    h = Q.ivf_pq_health(spark, root)
    assert h["code_batches"] == 2 and h["tombstone_batches"] == 1
    assert h["tombstoned_ids"] == 3
    assert h["live_vectors"] == 397  # 400 primaries - 3 tombstoned
    assert h["cells_total"] == 8 and 1 <= h["cells_used"] <= 8
    assert h["cell_skew"] >= 1.0
    b1, b2 = h["per_batch"]
    assert b1["mean_centroid_sim"] > b2["mean_centroid_sim"]
    assert h["drift"] > 0.02  # the rebuild trigger fires
    # after compaction the layout consolidates but the drift signal
    # collapses into one batch (history is gone — by design)
    Q.ivf_pq_compact(spark, root)
    h2 = Q.ivf_pq_health(spark, root)
    assert h2["code_batches"] == 1 and h2["tombstoned_ids"] == 0
    assert h2["live_vectors"] == 397
