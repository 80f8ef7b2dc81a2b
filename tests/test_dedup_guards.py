"""Guard-rail tests for the dedup operators: banding parameter
validation and the stop-shingle document-frequency cap (the bound that
keeps the exact-Jaccard self-join linear at corpus scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    # Every doc shares the boilerplate prefix "common legal disclaimer
    # text"; docs 1/2 share a real 4-token tail, doc 3 is unrelated.
    rows = [
        (1, "common legal disclaimer text alpha beta gamma delta"),
        (2, "common legal disclaimer text alpha beta gamma epsilon"),
        (3, "common legal disclaimer text zeta eta theta iota"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_bands_must_divide_hashes(docs):
    with pytest.raises(ValueError, match="divide evenly"):
        DD.minhash_near_dup_pairs(docs, num_hashes=10, num_bands=4)


def test_lsh_banding_cannot_overrun_signature(docs):
    sigs = DD.minhash_signatures(docs, num_hashes=8)
    with pytest.raises(ValueError, match="only 8"):
        DD.lsh_candidate_pairs(sigs, num_bands=4, rows_per_band=4, num_hashes=8)
    # in-bounds passes validation
    DD.lsh_candidate_pairs(sigs, num_bands=2, rows_per_band=4, num_hashes=8)


def test_stop_shingle_cap_drops_ubiquitous_shingles(docs):
    # Unguarded: boilerplate shingles put every pair above 0; pair (1,3)
    # exists purely through boilerplate.
    raw = {
        (r.a, r.b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.0, max_shingle_df=None
        ).collect()
    }
    assert (1, 3) in raw
    # Capped at df<=2: the two shingles shared by all 3 docs drop; (1,3)
    # shares nothing else, while (1,2) still shares its three df-2
    # shingles. Sizes are computed over the retained set: 4 shingles per
    # doc, 3 shared -> jaccard 3/(4+4-3) = 0.6.
    capped = {
        (r.a, r.b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.0, max_shingle_df=2
        ).collect()
    }
    assert (1, 3) not in capped
    assert capped[(1, 2)] == pytest.approx(0.6)


def test_cap_is_noop_when_no_shingle_is_hot(docs):
    pairs_none = {
        (r.a, r.b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.0, max_shingle_df=None
        ).collect()
    }
    pairs_high = {
        (r.a, r.b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.0, max_shingle_df=1000
        ).collect()
    }
    assert pairs_none == pairs_high


def test_winnow_near_dup_recall_vs_exact(spark, sf_dir):
    """Winnowed-fingerprint Jaccard must recover the near-identical
    pairs exact n-gram Jaccard finds at high similarity: winnowing
    samples grams, so scores are noisier, but any pair sharing long
    substrings shares fingerprints (guarantee: every common substring
    of ≥ k+w-1 chars contributes ≥ 1 common fingerprint)."""
    from regpulse_lakehouse_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["a"], r["b"])
        for r in DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", shingle_k=3, threshold=0.8
        ).collect()
    }
    winnow = {
        (r["a"], r["b"])
        for r in DD.winnow_near_dup_pairs(
            docs, "text", "doc_id", k=5, w=4, threshold=0.5
        ).collect()
    }
    assert exact, "fixture corpus must contain high-similarity pairs"
    recall = len(exact & winnow) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(winnow))


def test_winnow_near_dup_self_consistency(spark):
    """Duplicated text → jaccard 1.0 over fingerprint sets."""
    base = "regulatory compliance obligations for automated driving systems " * 4
    rows = [(1, base), (2, base), (3, "totally different content about batteries")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           DD.winnow_near_dup_pairs(df, threshold=0.2).collect()}
    assert got.get((1, 2)) == 1.0
    assert (1, 3) not in got and (2, 3) not in got


def test_cluster_edges_linear_on_giant_duplicate_cluster(spark):
    """The windowed edge generator must emit O(n·window·bands) edges on
    a corpus dominated by one duplicate cluster — where the pairwise
    operator goes quadratic — and components must still collapse the
    whole cluster to one representative."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    n = 200
    rows = [(i, base + f" tail{'x' * (i % 2)}") for i in range(n)]     # one big near-dup cluster
    rows += [(1000 + i, f"totally unrelated text number {i} about {i*7} engines") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    window, bands = 8, 4
    edges = DD.minhash_cluster_edges(
        df, threshold=0.5, neighbor_window=window, num_bands=bands
    )
    n_edges = edges.count()
    assert 0 < n_edges <= (n + 20) * window * bands   # linear bound
    assert n_edges < n * (n - 1) // 2                  # far below all-pairs

    from regpulse_lakehouse_spark.operators.components import cluster_representatives

    reps = cluster_representatives(edges, df, id_col="doc_id")
    kept = {r["doc_id"] for r in reps.select("doc_id").collect()}
    # the 200-member cluster collapses to exactly its minimum id
    assert kept & set(range(200)) == {0}
    # unrelated docs all survive
    assert set(range(1000, 1020)) <= kept


def test_cluster_edges_agree_with_pairwise_on_plain_corpus(spark, sf_dir):
    """On the synthetic corpus (small clusters ≪ window) the windowed
    edges must produce the SAME connected components as the exact
    pairwise operator."""
    from regpulse_lakehouse_spark.operators.components import connected_components
    from regpulse_lakehouse_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = DD.minhash_near_dup_pairs(docs, threshold=0.5)
    edges = DD.minhash_cluster_edges(docs, threshold=0.5, neighbor_window=8)

    def comps(e):
        lab = connected_components(e.select("a", "b"))
        return {
            tuple(sorted(r))
            for r in lab.groupBy("component")
            .agg(F.collect_set("id").alias("m"))
            .select("m")
            .toPandas()["m"]
        }

    assert comps(pairs) == comps(edges)


def test_simhash_and_embedding_cluster_edges_linear_and_connected(spark):
    """The windowed-edge family is symmetric: SimHash and embedding
    variants must obey the same linear bound and keep a planted
    duplicate cluster connected."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    n = 120
    rows = [(i, base + (" extra" if i % 3 == 0 else "")) for i in range(n)]
    rows += [(1000 + i, f"different text about engine number {i} and part {i*3}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    window = 6

    sh_edges = DD.simhash_cluster_edges(df, neighbor_window=window, max_hamming=5)
    n_sh = sh_edges.count()
    assert 0 < n_sh <= (n + 10) * window * 6     # 6 bands
    from regpulse_lakehouse_spark.operators.components import connected_components
    lab = connected_components(sh_edges.select("a", "b"))
    comp_of = {r["id"]: r["component"] for r in lab.collect()}
    # the fixture has TWO true text variants ("extra" every 3rd doc),
    # far enough apart in Hamming space to be separate clusters — each
    # variant's members must all chain into ONE component
    plain = {comp_of[i] for i in range(n) if i % 3 != 0 and i in comp_of}
    extra = {comp_of[i] for i in range(n) if i % 3 == 0 and i in comp_of}
    assert len(plain) == 1 and len(extra) == 1

    import numpy as np
    from regpulse_lakehouse_spark.operators.vector import embedding_cluster_edges
    vec = [float(x) for x in np.arange(64) % 7]
    erows = [(i, [v + (0.001 * (i % 2)) for v in vec]) for i in range(60)]
    erows += [(500 + i, [float((j * (i + 3)) % 11) - 5.0 for j in range(64)]) for i in range(8)]
    emb = spark.createDataFrame(erows, "vec_id long, embedding array<float>")
    e_edges = embedding_cluster_edges(emb, threshold=0.9, neighbor_window=window)
    n_e = e_edges.count()
    assert 0 < n_e <= 68 * window * 4
    lab2 = connected_components(e_edges.select("a", "b"))
    comp2 = {r["id"]: r["component"] for r in lab2.collect()}
    assert len({comp2[i] for i in range(60) if i in comp2}) == 1


def test_salted_windowed_edges_shrink_tasks_but_stay_connected(spark):
    """bucket_salt splits each bucket's window partition S-fold; for a
    true duplicate cluster the cross-band salt mixing must keep the
    cluster in ONE component, with the linear edge bound intact."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    n = 200
    df = spark.createDataFrame(
        [(i, base + f" tail{'x' * (i % 2)}") for i in range(n)],
        "doc_id long, text string",
    )
    window, bands, salt = 6, 4, 4
    edges = DD.minhash_cluster_edges(
        df, threshold=0.5, neighbor_window=window, num_bands=bands,
        bucket_salt=salt,
    )
    n_edges = edges.count()
    assert 0 < n_edges <= n * window * bands
    from regpulse_lakehouse_spark.operators.components import connected_components

    lab = connected_components(edges.select("a", "b"))
    comp = {r["id"]: r["component"] for r in lab.collect()}
    assert len({comp[i] for i in range(n) if i in comp}) == 1
    assert len(comp) == n  # every member appears in the edge graph


def test_salt_rehearsal_100k_planted_bucket(spark):
    """Round-5 skew rehearsal: plant ONE 100,000-member bucket (all
    docs identical text -> identical MinHash signature -> one bucket
    per band) and verify empirically, not just analytically, that
    bucket_salt=8 (a) shrinks the max window-partition input ~8x and
    (b) still resolves the planted cluster to ONE component.

    Measured at commit time (n=100000, bands=4, window=4, salt=8):
    max partition 100000 -> 12769 (7.83x shrink; ideal 12500), edge
    graph 1,392,331 distinct edges (bound n*window*bands = 1.6M),
    union-find components = 1."""
    from pyspark.sql import functions as F

    n, bands, window, salt = 100_000, 4, 4, 8
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(base).alias("text")
    )
    banded = DD.banded_minhash_signatures(df, "text", "doc_id", 16, bands)

    # (a) the window stage's actual partition sizes, with and without salt
    unsalted_max = (
        banded.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    )
    assert unsalted_max == n  # the planted bucket really is one partition
    salted_max = (
        banded.withColumn("_salt", DD.bucket_salt_col("doc_id", ["band", "bucket"], salt))
        .groupBy("band", "bucket", "_salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # hash split: max sub-partition within 30% of the ideal n/S
    assert salted_max <= n / salt * 1.3, f"max task input {salted_max} barely shrank"
    assert unsalted_max / salted_max > salt * 0.7

    # (b) connectivity despite per-band chain splitting: cross-band salt
    # mixing must keep the planted cluster ONE component. Union-find over
    # the collected edge list (a test-only driver pass; the production
    # path is operators/components.connected_components)
    edges = DD.windowed_band_edges(
        banded.select("doc_id", "band", "bucket"),
        "doc_id",
        "bucket",  # payload irrelevant here; connectivity is the subject
        ["band", "bucket"],
        window,
        salt,
    ).select("a", "b").dropDuplicates(["a", "b"])
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_edges = 0
    for row in edges.toLocalIterator():
        n_edges += 1
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[ra] = rb
    assert 0 < n_edges <= n * window * bands  # linear bound holds
    assert len({find(i) for i in range(n)}) == 1, "planted cluster split"


# --- line-level boilerplate dedup (round 6) --------------------------------


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    from regpulse_lakehouse_spark.operators.dedup import line_dedup

    banner = "Accept our cookies to continue reading this site"
    footer = "Copyright 2026 Example Corp All rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nUnique first article body text.\n{footer}"),
            (2, f"{banner}\nCompletely different second body.\n{footer}"),
            (3, f"{banner}\nThird body keeps its own words.\n{footer}\n42"),
            (4, "No boilerplate here at all, just content."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in line_dedup(docs, max_df=2).collect()}
    assert len(out) == 4  # row count preserved
    for d in (1, 2, 3):
        assert banner not in out[d] and footer not in out[d]
    assert out[1] == "Unique first article body text."
    assert out[3] == "Third body keeps its own words.\n42"  # short line kept
    assert out[4] == "No boilerplate here at all, just content."


def test_line_dedup_short_lines_and_order(spark):
    from regpulse_lakehouse_spark.operators.dedup import line_dedup

    # short duplicated lines (< min_line_chars) survive everywhere;
    # long unique lines keep their original relative order
    docs = spark.createDataFrame(
        [
            (1, "alpha\nfirst long unique line one\nbeta\nsecond long unique line one"),
            (2, "alpha\nfirst long unique line two\nbeta\nsecond long unique line two"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in line_dedup(docs, max_df=2).collect()}
    assert out[1].split("\n") == [
        "alpha", "first long unique line one", "beta", "second long unique line one",
    ]


def test_line_dedup_fully_boilerplate_doc_keeps_empty_row(spark):
    from regpulse_lakehouse_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "this exact banner line repeats"), (2, "this exact banner line repeats")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in line_dedup(docs, max_df=2).collect()}
    assert out == {1: "", 2: ""}


def test_line_dedup_plan_is_jvm_only(spark, sf_dir):
    from regpulse_lakehouse_spark.operators.dedup import line_dedup
    from regpulse_lakehouse_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    out = line_dedup(docs)
    assert out.count() == docs.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


# --- exact-dup clique pre-collapse (round 13) ------------------------------


def test_collapse_exact_equals_uncollapsed(spark):
    """collapse_exact must be a pure plan transformation: identical
    output pair sets (ids AND scores) on a corpus mixing an exact-dup
    clique, near-dup variants, short-doc fallback shingles, and
    ineligible (empty/whitespace/null) texts."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, base) for i in range(25)]                      # exact clique
    rows += [(100, base + " tailx"), (101, base + " taily")]   # near-dups of it
    rows += [(200, "solo"), (201, "solo")]                     # 1-token clique (fallback shingle)
    rows += [(300, ""), (301, "   "), (302, None)]             # ineligible
    rows += [(400, "completely unrelated words about battery chemistry here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(fn, score, **kw):
        return {
            (r["a"], r["b"]): r[score]
            for r in fn(df, threshold=0.4, **kw).collect()
        } if score == "est_jaccard" else {
            (r["a"], r["b"]): r[score]
            for r in fn(df, **kw).collect()
        }

    mh_on = pairs(DD.minhash_near_dup_pairs, "est_jaccard", collapse_exact=True)
    mh_off = pairs(DD.minhash_near_dup_pairs, "est_jaccard", collapse_exact=False)
    assert mh_on == mh_off
    assert mh_on[(200, 201)] == 1.0          # fallback-shingle clique expanded
    assert all((i, j) in mh_on for i in range(25) for j in range(i + 1, 25))
    assert not any(a >= 300 or b >= 300 for (a, b) in mh_on if (a, b) != (400, 400))

    sh_on = pairs(DD.simhash_near_dup_pairs, "hamming", collapse_exact=True)
    sh_off = pairs(DD.simhash_near_dup_pairs, "hamming", collapse_exact=False)
    assert sh_on == sh_off
    assert sh_on[(0, 1)] == 0
    assert dict(
        DD.simhash_near_dup_pairs(df, collapse_exact=True).dtypes
    ) == dict(DD.simhash_near_dup_pairs(df, collapse_exact=False).dtypes)


def test_collapse_bounds_candidates_on_1k_clique(spark):
    """The r12-flagged quadratic-in-skew corner: a 1,000-copy exact-dup
    clique used to put ~4x499,500 joined rows (with full signature
    payloads) through the banded self-join. With the pre-collapse the
    LSH stage sees ONE representative per distinct text — candidate
    generation is bounded by distinct-content cardinality — while the
    output still carries the full all-pairs semantics."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    n = 1000
    rows = [(i, base) for i in range(n)]
    rows += [(10_000 + i, f"unrelated text number {i} about {i * 7} engines and parts") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    members, rep_docs = DD.exact_clique_membership(df, "text", "doc_id")
    n_reps = rep_docs.count()
    assert n_reps == 6  # 1 clique rep + 5 distinct singletons

    # what the banded join actually processes: pairs over REPS only
    rep_pairs = DD.minhash_near_dup_pairs(
        rep_docs, threshold=0.4, collapse_exact=False
    )
    assert rep_pairs.count() <= n_reps * (n_reps - 1) // 2  # ≤ 15, not ~499k

    # the public operator still returns the full all-pairs output
    total = DD.minhash_near_dup_pairs(df, threshold=0.4).count()
    assert total == n * (n - 1) // 2  # 499,500 intra-clique pairs


_FOX = "the quick brown fox jumps over the lazy dog near the river bank today"
_CLIQUE_WITH_NEAR_DUPS = (
    [(i, _FOX) for i in range(300)]                          # one big clique
    + [(1000, _FOX + " tailx"), (1001, _FOX + " taily")]     # near-dups of it
    + [(2000 + i, f"unrelated text number {i} about {i * 7} engines") for i in range(5)]
    + [(3000, ""), (3001, None)]                             # ineligible singletons
)
_EXACT_PAIR_ONLY = [
    (1, "member states shall report battery recycling quotas annually"),
    (2, "member states shall report battery recycling quotas annually"),
    (3, "type approval of heavy duty vehicles under the new emission rules"),
]


@pytest.mark.parametrize(
    "rows, expect",
    [
        # the clique + its near-dups form ONE component labeled 0
        (_CLIQUE_WITH_NEAR_DUPS,
         {299: 0, 1000: 0, 1001: 0, 3000: 3000, 3001: 3001}),
        (_EXACT_PAIR_ONLY, {1: 1, 2: 1, 3: 3}),
    ],
    ids=["clique_with_near_dups", "exact_clique_without_partner"],
)
def test_rep_level_components_equal_expanded_components(spark, tmp_path, rows, expect):
    """The graded dd_cluster_components row clusters the DISTINCT-content
    (representative) graph and expands labels through the clique
    membership; its labels must equal components over the full
    expanded pair list, with every doc as a node. An exact clique with
    no near-dup partner never enters the pair graph, and its members
    must still share the rep's label."""
    import pandas as pd

    from regpulse_lakehouse_spark.operators.components import connected_components
    from regpulse_lakehouse_spark.queries.dedup_q import dd_cluster_components

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    got = {tuple(r) for r in dd_cluster_components(spark, str(tmp_path)).collect()}

    df = spark.createDataFrame(rows, "doc_id long, text string")
    full_pairs = DD.minhash_near_dup_pairs(
        df, num_hashes=16, num_bands=4, threshold=0.4, collapse_exact=False
    ).select("a", "b")
    want = {
        (r["id"], r["component"])
        for r in connected_components(
            full_pairs, nodes=df.select(F.col("doc_id").alias("id")),
            src_col="a", dst_col="b", id_col="id",
        ).collect()
    }
    assert got == want
    comp_of = dict(got)
    assert {d: comp_of[d] for d in expect} == expect
