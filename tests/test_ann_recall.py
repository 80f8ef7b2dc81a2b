"""Recall verification for the approximate (rows-only) dedup/ANN
operators: approximate results are tested by recall against their exact
counterparts, not by hash (SURVEY.md §7 'pgvector parity')."""

from __future__ import annotations

from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators import vector as V
from regpulse_lakehouse_spark.sources.tpch import load_table


def _exact_pairs(emb, threshold):
    # rescored with the same Arrow-batched cosine as the operator so the
    # precision subset check can't flake on a rounding boundary
    from regpulse_lakehouse_spark.functions.vecmath import cosine_pd

    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cs", F.round(cosine_pd(F.col("ea"), F.col("eb")), 4))
        .filter(F.col("cs") >= threshold)
        .select("a", "b")
    )


def test_cosine_near_dup_recall_and_precision(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    exact = {(r.a, r.b) for r in _exact_pairs(emb, 0.35).collect()}
    approx = {
        (r.a, r.b)
        for r in V.cosine_near_dup_pairs(
            emb, "embedding", "vec_id", threshold=0.35, dim=64, n_planes=12, n_bands=4
        ).collect()
    }
    assert exact, "fixture embeddings must contain pairs above threshold"
    assert approx, "banded LSH must surface candidate pairs"
    # candidates are exactly rescored → zero false positives
    assert approx <= exact
    # banded collision probability at this similarity band ⇒ recall well
    # above a single-table LSH (which is ≈0 here)
    recall = len(approx) / len(exact)
    assert recall >= 0.5, f"recall {recall:.3f} below floor"


def test_ivf_empty_corpus_rejected(spark, sf_dir, tmp_path):
    import pytest

    from regpulse_lakehouse_spark.operators import quantize as Q

    emb = load_table(spark, sf_dir, "embeddings")
    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty corpus"):
        Q.ivf_pq_build(empty, str(tmp_path / "ivfpq"), n_centroids=4, m=8, k_codes=16)


def test_ivf_string_ids_supported(spark, sf_dir, tmp_path):
    """Quantizer sampling must not assume numeric ids (the old stride
    filter did id % stride): the ad-hoc IVF-PQ search and the persisted
    index both serve string ids."""
    from regpulse_lakehouse_spark.operators import quantize as Q

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    corpus = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cb = Q.train_pq(corpus, m=8, k=16)
    out = Q.ivf_pq_topk(corpus, queries, cb, n_centroids=4, n_probe=2, k=3)
    assert out.count() == 6
    root = str(tmp_path / "ivfpq")
    Q.ivf_pq_build(corpus, root, n_centroids=4, m=8, k_codes=16)
    found = Q.ivf_pq_search(
        spark, root, queries, n_probe=2, k=3, rescore_corpus=corpus
    ).collect()
    assert len(found) == 6
    assert all(r.vec_id.startswith("doc-") for r in found)


def test_graded_ivf_row_recall_gate_trips_on_broken_index(spark, sf_dir, monkeypatch):
    """The e4_ivf_topk driver row's ivf_recall_ok contract is LIVE: a
    broken index (here: a search that returns nothing) must flip the
    flag to False — which hash-mismatches the oracle's asserted TRUE.
    Since round 6 the row serves from the PERSISTED IVF-PQ index, so
    the thing being broken is quantize.ivf_pq_search."""
    import os

    from regpulse_lakehouse_spark.queries import vector_q
    from regpulse_lakehouse_spark.operators import quantize as Q

    healthy = vector_q.e4_ivf_topk(spark, sf_dir)
    assert all(r["ivf_recall_ok"] for r in healthy.collect())
    # the row really served from a committed persisted layout, with
    # the self-sized params resolving to the calibrated pair at
    # fixture scale (r12: ivf_search_params)
    path, n_probe, shortlist = vector_q._IVFPQ_PATHS[os.path.abspath(sf_dir)]
    assert (n_probe, shortlist) == (7, 400)
    assert os.path.exists(os.path.join(path, "_commits", "1"))
    assert os.path.exists(os.path.join(path, "_index.json"))
    assert any(d.startswith("cell=") for d in os.listdir(os.path.join(path, "batch=1")))

    real_search = Q.ivf_pq_search

    def broken_search(spark_, path_, queries, **kw):
        return real_search(spark_, path_, queries, **kw).filter("1 = 0")

    monkeypatch.setattr(Q, "ivf_pq_search", broken_search)
    broken = vector_q.e4_ivf_topk(spark, sf_dir)
    assert not any(r["ivf_recall_ok"] for r in broken.collect())
