"""BM25 retrieval: scores vs an independent brute-force implementation,
one-shot vs persisted-index equivalence, and plan quality (bucket
pruning + pushed term filter, no Python stage)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators import retrieval as R

CORPUS = [
    ("d01", "the quick brown fox jumps over the lazy dog"),
    ("d02", "a quick brown dog outpaces a quick fox"),
    ("d03", "regulatory filings require timely review and disclosure"),
    ("d04", "the fox is quick and the review is slow"),
    ("d05", "lazy summer days and lazy dog afternoons"),
    ("d06", "disclosure rules for regulatory review boards"),
    ("d07", "brown bears are not foxes nor dogs"),
    ("d08", "the the the the the repetition document"),
    ("d09", "quick review of the quick disclosure"),
    ("d10", "an unrelated document about embeddings and vectors"),
]


def brute_bm25(query: str, k1: float = 1.2, b: float = 0.75) -> dict[str, float]:
    """Independent reference implementation (plain Python, Lucene idf)."""
    docs = {i: t.lower().split() for i, t in CORPUS}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    terms = list(dict.fromkeys(query.lower().split()))
    df = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    out: dict[str, float] = {}
    for i, toks in docs.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if s > 0:
            out[i] = s
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id string, text string")


def test_bm25_topk_matches_brute_force(docs_df):
    query = "quick brown fox"
    got = {r["doc_id"]: r["bm25"] for r in R.bm25_topk(docs_df, query, k=10).collect()}
    want = brute_bm25(query)
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(s, abs=1e-5), d


def test_bm25_ordering_and_tiebreak(docs_df):
    rows = R.bm25_topk(docs_df, "lazy dog", k=3).collect()
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) == 3
    # d01/d05 both contain lazy+dog; brute force agrees on the winner
    want = brute_bm25("lazy dog")
    assert rows[0]["doc_id"] == max(want, key=lambda d: (want[d], ))


def test_bm25_rare_term_outranks_common(docs_df):
    # 'the' appears everywhere (low idf); 'regulatory' is rare — a doc
    # matching only the rare term should beat one matching only 'the'.
    rows = R.bm25_topk(docs_df, "the regulatory", k=10).collect()
    by_id = {r["doc_id"]: r["bm25"] for r in rows}
    assert by_id["d03"] > by_id["d01"]
    assert by_id["d06"] > by_id["d08"]  # even vs the 'the'-stuffed doc


def test_bm25_empty_query_and_no_hits(docs_df):
    assert R.bm25_topk(docs_df, "   ", k=5).count() == 0
    assert R.bm25_topk(docs_df, "zzzznotaterm", k=5).count() == 0


def test_persisted_index_matches_oneshot(docs_df, spark, tmp_path):
    path = str(tmp_path / "bm25_idx")
    R.write_bm25_index(docs_df, path, n_buckets=8)
    for query in ("quick brown fox", "regulatory disclosure review", "lazy dog"):
        one = {(r["doc_id"], r["bm25"]) for r in R.bm25_topk(docs_df, query, k=10).collect()}
        srv = {(r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, query, k=10).collect()}
        assert srv == one, query


def test_persisted_search_prunes_buckets_and_pushes_terms(docs_df, spark, tmp_path):
    path = str(tmp_path / "bm25_idx2")
    R.write_bm25_index(docs_df, path, n_buckets=8)
    df = R.bm25_search(spark, path, "regulatory")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # Directory pruning on the term bucket, term predicate at the scan,
    # and a broadcast for the tiny df side; no Python stage anywhere.
    assert "PartitionFilters" in plan and "tb" in plan.split("PartitionFilters")[1][:200]
    assert "PushedFilters" in plan and "term" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_index_layout_one_file_per_bucket(docs_df, tmp_path):
    import glob

    path = str(tmp_path / "bm25_idx3")
    R.write_bm25_index(docs_df, path, n_buckets=4)
    tb_dirs = glob.glob(f"{path}/postings/batch=*/tb=*")
    assert tb_dirs, "no bucket dirs written"
    for tb_dir in tb_dirs:
        files = [f for f in glob.glob(f"{tb_dir}/*.parquet")]
        assert len(files) == 1, tb_dir


def test_bm25_on_documents_table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = R.bm25_topk(docs, "regulation compliance data", k=5, id_col="doc_id").collect()
    assert 0 < len(rows) <= 5
    assert all(r["bm25"] > 0 for r in rows)


def test_index_append_equals_fresh_build(spark, tmp_path):
    """Incremental contract: build(batch1) + append(batch2) serves
    byte-equal results to a fresh build over the union — df rows sum,
    meta folds to exact global (N, avgdl)."""
    b1 = spark.createDataFrame(CORPUS[:6], "doc_id string, text string")
    b2 = spark.createDataFrame(CORPUS[6:], "doc_id string, text string")
    full = spark.createDataFrame(CORPUS, "doc_id string, text string")

    inc, fresh = str(tmp_path / "inc"), str(tmp_path / "fresh")
    R.write_bm25_index(b1, inc, n_buckets=8)
    R.bm25_index_append(b2, inc)
    R.write_bm25_index(full, fresh, n_buckets=8)

    for query in ("quick brown fox", "regulatory disclosure review", "the lazy dog"):
        a = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, inc, query, k=10).collect())
        f = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, fresh, query, k=10).collect())
        o = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_topk(full, query, k=10).collect())
        assert a == f == o, query


def test_blank_query_keeps_corpus_id_schema(spark, tmp_path):
    """Review fix: the empty-query early return must carry the SAME
    schema as the scored path (long ids stay long)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], "doc_id long, text string"
    )
    scored = R.bm25_topk(docs, "alpha", k=5)
    blank = R.bm25_topk(docs, "   ", k=5)
    assert [(f.name, f.dataType) for f in blank.schema] == [
        (f.name, f.dataType) for f in scored.schema
    ]
    path = str(tmp_path / "idx")
    R.write_bm25_index(docs, path, n_buckets=4)
    srv_blank = R.bm25_search(spark, path, " ", k=5)
    assert srv_blank.schema[0].dataType == scored.schema[0].dataType


def test_query_tokenization_matches_corpus_tokenizer(spark):
    """Review fix: query_terms mirrors Java \\s (ASCII-only): an NBSP
    inside a query stays inside the term, exactly as the corpus
    tokenizer keeps it inside the token — the query side and the
    one-shot search agree."""
    token = "terms\xa0conditions"
    docs = spark.createDataFrame(
        [("d1", f"the {token} apply here"), ("d2", "unrelated body text")],
        "doc_id string, text string",
    )
    assert R.query_terms(token) == [token]
    one = R.bm25_topk(docs, token, k=5).collect()
    assert [r["doc_id"] for r in one] == ["d1"]


def test_torn_append_is_invisible_and_replay_heals(spark, tmp_path):
    """Committed-batch layout: an append whose commit marker never
    landed must not change search results; retrying the append with the
    same ref reuses the batch number and heals the torn dirs."""
    import os
    import shutil

    b1 = spark.createDataFrame(CORPUS[:6], "doc_id string, text string")
    b2 = spark.createDataFrame(CORPUS[6:], "doc_id string, text string")
    path = str(tmp_path / "torn")
    R.write_bm25_index(b1, path, n_buckets=4)
    before = R.bm25_search(spark, path, "quick review", k=10).collect()

    R.bm25_index_append(b2, path, batch_ref="ingest-7")
    os.remove(f"{path}/_commits/2")  # simulate crash before the marker
    torn = R.bm25_search(spark, path, "quick review", k=10).collect()
    assert torn == before  # uncommitted batch invisible

    healed_b = R.bm25_index_append(b2, path, batch_ref="ingest-7")
    assert healed_b == 2  # same batch number, torn dirs overwritten
    full = spark.createDataFrame(CORPUS, "doc_id string, text string")
    want = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_topk(full, "quick review", k=10).collect())
    got = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, "quick review", k=10).collect())
    assert got == want
    # replay of the committed ref is a no-op
    assert R.bm25_index_append(b2, path, batch_ref="ingest-7") == 2
    assert sorted(
        (r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, "quick review", k=10).collect()
    ) == want


def test_index_compact_preserves_results(spark, tmp_path):
    path = str(tmp_path / "cmp")
    thirds = [CORPUS[:4], CORPUS[4:7], CORPUS[7:]]
    R.write_bm25_index(spark.createDataFrame(thirds[0], "doc_id string, text string"), path, n_buckets=4)
    for i, part in enumerate(thirds[1:], start=1):
        R.bm25_index_append(
            spark.createDataFrame(part, "doc_id string, text string"), path,
            batch_ref=f"b{i}",
        )
    queries = ("quick brown fox", "regulatory disclosure review", "lazy dog")
    before = {
        q: sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, q, k=10).collect())
        for q in queries
    }
    folded = R.bm25_index_compact(spark, path)
    assert folded == 3
    assert list(R.committed_batches(spark, path)) == [1]
    for q in queries:
        after = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, q, k=10).collect())
        assert after == before[q], q
    # compacting a single-batch index is a no-op
    assert R.bm25_index_compact(spark, path) == 1
    # and the index still appends after compaction
    extra = spark.createDataFrame([("dX", "quick appended document")], "doc_id string, text string")
    R.bm25_index_append(extra, path, batch_ref="post-compact")
    got = {r["doc_id"] for r in R.bm25_search(spark, path, "quick", k=10).collect()}
    assert "dX" in got


def test_max_df_ratio_drops_stopword_terms(docs_df, spark, tmp_path):
    """'the' matches 4/10 docs; with max_df_ratio=0.3 it contributes
    nothing, so 'the regulatory' scores equal 'regulatory' alone —
    one-shot and served paths agree."""
    only_rare = {r["doc_id"]: r["bm25"] for r in R.bm25_topk(docs_df, "regulatory", k=10).collect()}
    pruned = {
        r["doc_id"]: r["bm25"]
        for r in R.bm25_topk(docs_df, "the regulatory", k=10, max_df_ratio=0.3).collect()
    }
    assert pruned == only_rare
    path = str(tmp_path / "sw")
    R.write_bm25_index(docs_df, path, n_buckets=4)
    served = {
        r["doc_id"]: r["bm25"]
        for r in R.bm25_search(spark, path, "the regulatory", k=10, max_df_ratio=0.3).collect()
    }
    assert served == only_rare


def test_min_match_requires_conjunction(docs_df):
    rows = R.bm25_topk(docs_df, "quick brown fox", k=10, min_match=3).collect()
    got = {r["doc_id"] for r in rows}
    # only d01 and d02 contain all three terms
    assert got == {"d01", "d02"}
    assert all(r["n_terms_matched"] == 3 for r in rows)


def test_compaction_preserves_append_idempotency(spark, tmp_path):
    """Review fix: refs folded away by compaction survive in _refs —
    an at-least-once replay of a pre-compaction batch stays a no-op
    after compact (the exactly-once contract streaming maintenance
    relies on)."""
    path = str(tmp_path / "refs")
    R.write_bm25_index(
        spark.createDataFrame(CORPUS[:5], "doc_id string, text string"),
        path, n_buckets=4, batch_ref="stream-0",
    )
    R.bm25_index_append(
        spark.createDataFrame(CORPUS[5:], "doc_id string, text string"),
        path, batch_ref="stream-1",
    )
    before = sorted(
        (r["doc_id"], r["bm25"])
        for r in R.bm25_search(spark, path, "quick review", k=20).collect()
    )
    assert R.bm25_index_compact(spark, path) == 2
    # replaying either pre-compaction batch must be a no-op
    for i, part in ((0, CORPUS[:5]), (1, CORPUS[5:])):
        R.bm25_index_append(
            spark.createDataFrame(part, "doc_id string, text string"),
            path, batch_ref=f"stream-{i}",
        )
    after = sorted(
        (r["doc_id"], r["bm25"])
        for r in R.bm25_search(spark, path, "quick review", k=20).collect()
    )
    assert after == before
    # a second compaction carries the refs forward again
    R.bm25_index_append(
        spark.createDataFrame([("dz", "quick new doc")], "doc_id string, text string"),
        path, batch_ref="stream-2",
    )
    R.bm25_index_compact(spark, path)
    assert {"stream-0", "stream-1", "stream-2"} <= R.historical_refs(spark, path)


def test_rebuild_over_live_index_is_crash_safe(spark, tmp_path):
    """Review fix: rebuilding over an existing index stages beside it
    and swaps — the live index keeps serving until the swap."""
    path = str(tmp_path / "rb")
    docs1 = spark.createDataFrame(CORPUS[:5], "doc_id string, text string")
    docs2 = spark.createDataFrame(CORPUS, "doc_id string, text string")
    R.write_bm25_index(docs1, path, n_buckets=4)
    R.write_bm25_index(docs2, path, n_buckets=4)  # rebuild in place
    got = {r["doc_id"] for r in R.bm25_search(spark, path, "regulatory", k=10).collect()}
    assert got == {"d03", "d06"}
    import os
    assert not os.path.exists(f"{path}.rebuilding")
    assert not os.path.exists(f"{path}.old")


def test_search_and_append_raise_clearly_on_uncommitted_index(spark, tmp_path):
    import os

    path = str(tmp_path / "torn2")
    R.write_bm25_index(
        spark.createDataFrame(CORPUS[:3], "doc_id string, text string"), path, n_buckets=4
    )
    os.remove(f"{path}/_commits/1")  # torn: data present, nothing committed
    with pytest.raises(FileNotFoundError, match="committed"):
        R.bm25_search(spark, path, "quick", k=5).collect()
    with pytest.raises(FileNotFoundError, match="committed"):
        R.bm25_index_append(
            spark.createDataFrame(CORPUS[3:4], "doc_id string, text string"), path
        )


def test_delete_masks_then_compact_purges(spark, tmp_path):
    """Tombstone deletes: deleted docs vanish from search immediately
    (stats stale, Lucene-style); compaction purges them physically and
    the scores then equal a fresh build over the survivors exactly."""
    path = str(tmp_path / "del")
    full = spark.createDataFrame(CORPUS, "doc_id string, text string")
    R.write_bm25_index(full, path, n_buckets=4)

    b = R.bm25_index_delete(spark, path, ["d01", "d05"], batch_ref="rm-1")
    assert b == 2
    got = {r["doc_id"] for r in R.bm25_search(spark, path, "lazy dog", k=10).collect()}
    assert "d01" not in got and "d05" not in got
    # idempotent replay
    assert R.bm25_index_delete(spark, path, ["d01", "d05"], batch_ref="rm-1") == 0

    folded = R.bm25_index_compact(spark, path)
    assert folded == 2
    survivors = [r for r in CORPUS if r[0] not in ("d01", "d05")]
    fresh = str(tmp_path / "fresh")
    R.write_bm25_index(
        spark.createDataFrame(survivors, "doc_id string, text string"), fresh, n_buckets=4
    )
    for q in ("lazy dog", "quick brown fox", "regulatory disclosure"):
        a = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, q, k=10).collect())
        f = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, fresh, q, k=10).collect())
        assert a == f, q
    # appends still work after a delete+compact cycle
    R.bm25_index_append(
        spark.createDataFrame([("dN", "lazy new entrant")], "doc_id string, text string"),
        path, batch_ref="post",
    )
    got2 = {r["doc_id"] for r in R.bm25_search(spark, path, "lazy", k=10).collect()}
    assert "dN" in got2 and "d01" not in got2


def test_cdc_feed_maintains_the_index(spark, tmp_path):
    """End-to-end lakehouse loop: Delta-log change feed →
    apply_changes_to_bm25_index. After compaction the index equals a
    fresh build over the new snapshot exactly; replays are no-ops; an
    updated document's NEW text (not its old) is what matches."""
    from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable

    t = DeltaLogTable(spark, str(tmp_path / "tbl"))
    v1_rows = CORPUS[:6]
    v1 = t.write(spark.createDataFrame(v1_rows, "doc_id string, text string"))
    path = str(tmp_path / "idx")
    R.write_bm25_index(t.read(v1), path, n_buckets=4)

    # v2: d02 updated, d04 deleted, d11 inserted
    v2_rows = [r for r in v1_rows if r[0] not in ("d02", "d04")]
    v2_rows += [("d02", "entirely rewritten subject matter now"), ("d11", "a brand new lazy entry")]
    v2 = t.write(spark.createDataFrame(v2_rows, "doc_id string, text string"))

    feed = t.changes(["doc_id"], from_version=v1, to_version=v2)
    R.apply_changes_to_bm25_index(feed, path, batch_ref="v1v2")
    # replay is a no-op on both legs
    R.apply_changes_to_bm25_index(feed, path, batch_ref="v1v2")

    got = {r["doc_id"] for r in R.bm25_search(spark, path, "lazy", k=20).collect()}
    assert "d11" in got and "d04" not in got
    assert {r["doc_id"] for r in R.bm25_search(spark, path, "rewritten subject", k=5).collect()} == {"d02"}
    assert R.bm25_search(spark, path, "outpaces", k=5).count() == 0  # d02's OLD text gone

    R.bm25_index_compact(spark, path)
    fresh = str(tmp_path / "fresh2")
    R.write_bm25_index(t.read(v2), fresh, n_buckets=4)
    for q in ("lazy", "rewritten subject matter", "quick brown fox"):
        a = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, q, k=20).collect())
        f = sorted((r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, fresh, q, k=20).collect())
        assert a == f, q


def test_delete_marker_cannot_commit_torn_append(spark, tmp_path):
    """Review fix: kinds commit independently — a tombstone commit
    must never retroactively commit a torn append's postings."""
    import glob
    import os

    path = str(tmp_path / "kinds")
    R.write_bm25_index(
        spark.createDataFrame(CORPUS[:5], "doc_id string, text string"), path, n_buckets=4
    )
    before = sorted(
        (r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, "quick", k=20).collect()
    )
    # torn append: batch-2 postings on disk, marker removed
    R.bm25_index_append(
        spark.createDataFrame(CORPUS[5:], "doc_id string, text string"), path, batch_ref="a2"
    )
    os.remove(f"{path}/_commits/2")
    assert glob.glob(f"{path}/postings/batch=2/*")  # torn data exists
    # a delete now commits (its own kind, next shared number = 2 or 3)
    R.bm25_index_delete(spark, path, ["d04"], batch_ref="rm")
    got = sorted(
        (r["doc_id"], r["bm25"])
        for r in R.bm25_search(spark, path, "quick", k=20).collect()
        if r["doc_id"] != "d04"
    )
    want = [x for x in before if x[0] != "d04"]
    assert got == want  # torn batch-2 docs still invisible


def test_compact_all_docs_deleted_keeps_index_alive(spark, tmp_path):
    path = str(tmp_path / "allgone")
    R.write_bm25_index(
        spark.createDataFrame(CORPUS[:4], "doc_id string, text string"), path, n_buckets=4
    )
    R.bm25_index_delete(spark, path, [d for d, _ in CORPUS[:4]], batch_ref="purge")
    R.bm25_index_compact(spark, path)
    # searchable (empty), not bricked
    assert R.bm25_search(spark, path, "quick fox", k=5).count() == 0
    # and appendable again
    R.bm25_index_append(
        spark.createDataFrame([("dz", "fresh quick doc")], "doc_id string, text string"),
        path, batch_ref="revive",
    )
    assert {r["doc_id"] for r in R.bm25_search(spark, path, "quick", k=5).collect()} == {"dz"}


def test_torn_delete_does_not_mask_or_flip_compact_path(spark, tmp_path):
    import os

    path = str(tmp_path / "torndel")
    R.write_bm25_index(
        spark.createDataFrame(CORPUS[:5], "doc_id string, text string"), path, n_buckets=4
    )
    R.bm25_index_append(
        spark.createDataFrame(CORPUS[5:], "doc_id string, text string"), path, batch_ref="a2"
    )
    before = sorted(
        (r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, "quick review", k=20).collect()
    )
    b = R.bm25_index_delete(spark, path, ["d01"], batch_ref="rm1")
    os.remove(f"{path}/_commits/{b}")  # torn delete: dir on disk, no marker
    # search: nothing masked
    assert sorted(
        (r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, "quick review", k=20).collect()
    ) == before
    # compact: stays on the exact fold path, results byte-identical
    R.bm25_index_compact(spark, path)
    assert sorted(
        (r["doc_id"], r["bm25"]) for r in R.bm25_search(spark, path, "quick review", k=20).collect()
    ) == before


def test_delete_widens_lossless_integral_ids(spark, tmp_path):
    """ADVICE r7: an int-typed ids frame against bigint postings is a
    lossless widening — cast and mask, don't TypeError; genuinely lossy
    mismatches (string vs bigint, bigint vs int) still reject."""
    path = str(tmp_path / "widen")
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(CORPUS[:6])], "doc_id long, text string"
    )
    R.write_bm25_index(docs, path, n_buckets=4)
    int_ids = spark.range(2).select(F.col("id").cast("int").alias("doc_id"))
    R.bm25_index_delete(spark, path, int_ids, batch_ref="rm-int")
    left = {r["doc_id"] for r in R.bm25_search(spark, path, "the", k=20).collect()}
    assert left and 0 not in left and 1 not in left
    # lossy directions still reject loudly
    with pytest.raises(TypeError, match="matching ids"):
        R.bm25_index_delete(
            spark, path,
            spark.createDataFrame([("0",)], "doc_id string"),
            batch_ref="rm-str",
        )
    narrow_path = str(tmp_path / "narrow")
    R.write_bm25_index(
        docs.withColumn("doc_id", F.col("doc_id").cast("int")), narrow_path, n_buckets=4
    )
    with pytest.raises(TypeError, match="matching ids"):
        R.bm25_index_delete(
            spark, narrow_path,
            spark.range(1).select(F.col("id").alias("doc_id")),  # bigint vs int postings
            batch_ref="rm-long",
        )


def test_mixed_tombstone_schema_directs_to_compaction(spark, tmp_path):
    """ADVICE r7: a pre-typed-tombstone index holds string delete batches;
    the first typed delete against it must fail with a 'compact first'
    message instead of leaving mixed parquet schemas under _deletes."""
    path = str(tmp_path / "mixed")
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(CORPUS[:6])], "doc_id long, text string"
    )
    R.write_bm25_index(docs, path, n_buckets=4)
    # simulate the legacy layout: a committed STRING tombstone batch
    spark.createDataFrame([("999",)], "doc_id string").coalesce(1).write.parquet(
        f"{path}/_deletes/batch=2"
    )
    R._commit(spark, path, 2, "legacy-del", kind="del")
    with pytest.raises(ValueError, match="compact"):
        R.bm25_index_delete(spark, path, [0], batch_ref="rm-typed")
    # the prescribed remedy: compact purges _deletes, then the delete lands
    R.bm25_index_compact(spark, path)
    R.bm25_index_delete(spark, path, [0], batch_ref="rm-typed")
    assert 0 not in {r["doc_id"] for r in R.bm25_search(spark, path, "the", k=20).collect()}
