"""Deduplication queries over the documents corpus (BASELINE.json
north-star: exact, MinHash, SimHash, n-gram Jaccard near-dup — each a
``queries()`` entry with an oracle where SQL can express it).

The pairwise ops are restricted to a deterministic doc_id slice so the
sf0.01 oracle comparison stays bounded; the operators themselves
(operators/dedup.py) scale linearly via shingle/bucket equi-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import family_hash_sql
from ..operators import dedup as DD
from ..sources.tpch import load_table
from . import register

_TOKS_LOWER = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"

# Shingle table (3-word shingles via positional self-joins), shared by
# the jaccard + minhash oracles. Docs with < 3 tokens are excluded on
# both sides. No doc_id slice: the oracle runs at sf0.01 (500 docs) where
# the positional self-join stays cheap, while the Spark side must scale
# to the full corpus (the dup clusters at sf0.1 are spread across the
# whole id space, so a slice would silently empty the result).
_SHINGLES_SQL = f"""
    toks AS (
      SELECT doc_id, {_TOKS_LOWER} AS t
      FROM documents
      WHERE len({_TOKS_LOWER}) >= 3
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
    ),
    shingles AS (
      SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sh
      FROM tok t1
      JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
      JOIN tok t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
    )
"""


@register(
    "dd_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS representative
    FROM documents
    GROUP BY md5(text)
    """,
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content fingerprint, deterministic
    representative = lowest doc_id. One shuffle keyed on the hash —
    the 100 TB-safe shape."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").cast("long").alias("representative"),
        )
    )


_MAX_SHINGLE_DF = 1000

# One shuffle partition per 256 KB of compressed text input for the
# shingle-exploding families — calibrated by the r8 sf10 experiment
# (documents.parquet 60 MB: 32 partitions → 52-133 s, ~256 → 36-48 s,
# identical output; sf0.1's 0.6 MB floors at the core count, so the
# local bench is unchanged). AQE coalesce remains the shrink path.
_SHINGLE_BYTES_PER_PARTITION = 256 * 1024


def _tune_shingle_shuffle(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Clone the session (``newSession()``: shared SparkContext and
    table cache, ISOLATED SQLConf) and self-size the clone's shuffle
    partitions from the documents input
    (session.tune_shuffle_for_input: an explicit
    SPARK_GRAFT_SHUFFLE_PARTITIONS still wins). The shingle query plans
    against the clone, so the tuned count binds at their action time
    while the CALLER's ``spark.sql.shuffle.partitions`` is never
    mutated — pre-r10 this set the conf on the caller's session and
    every later non-shingle query in the same session inherited the
    shingle-calibrated count (VERDICT r9 hygiene item).

    r15: the clone is memoized per (parent, sf_dir)
    (session.scoped_session) — it is a conf holder, and rebuilding it
    plus re-running the input_bytes metadata call on every invocation
    was measurable pure driver overhead across the five shingle rows.
    r16 (VERDICT r15 item 1): the memo carries the tune's INPUTS as a
    fingerprint — documents.parquet stat, the sizing constant, the env
    pin — so a regenerated input at the same path (or a changed pin)
    re-tunes instead of serving a stale partition count."""
    import os as _os

    from ..session import scoped_session, stat_fingerprint, tune_shuffle_for_input

    path = f"{sf_dir}/documents.parquet"
    bpp = _SHINGLE_BYTES_PER_PARTITION
    return scoped_session(
        spark,
        f"shingle:{_os.path.abspath(sf_dir)}",
        fingerprint=(
            stat_fingerprint(path),
            bpp,
            _os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"),
        ),
        setup=lambda s: tune_shuffle_for_input(s, path, bpp),
    )


@register(
    "dd_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    kept AS (
      SELECT s.doc_id, s.sh
      FROM shingles s
      JOIN (SELECT sh FROM shingles GROUP BY sh
            HAVING COUNT(*) <= {_MAX_SHINGLE_DF}) r USING (sh)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
    ),
    inter AS (
      SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS n_inter
      FROM kept s1 JOIN kept s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
      GROUP BY s1.doc_id, s2.doc_id
    )
    SELECT i.a, i.b,
           ROUND(CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= 0.2
    """,
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle equi-join (no cross
    product; shuffles on shingle then pair), with the stop-shingle guard:
    shingles in more than _MAX_SHINGLE_DF docs are dropped on BOTH sides before
    the self-join (operators/dedup.py::ngram_jaccard_pairs docstring for
    the 100 TB rationale) — semantics are Jaccard over non-ubiquitous
    shingles, mirrored exactly in the oracle's ``kept`` CTE.

    r15 optimization round: the interrupted r15 build staged the
    guarded element + size tables to /tmp per sf_dir and served every
    later call (in any process) from the staged parquet, with a
    module-level memo of the built frame on top. Both were removed —
    a bench invocation must compute from the parquet inputs — so each
    call runs the full tokenize→shingle→hash→guard→self-join plan
    again (the pre-r15 shape)."""
    from ..functions.text import token_count

    spark = _tune_shingle_shuffle(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(
        token_count(F.col("text")) >= 3
    )
    pairs = DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.2,
        max_shingle_df=_MAX_SHINGLE_DF,
    )
    return pairs.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jaccard",
    )


# dd_minhash_signature was a standalone row through round 5; it was
# displaced in round 6 to keep the registry at the driver's 50-row
# budget when dd_incremental_near_dup registered (the verdict's
# suggested trade: the signature algebra — same md5 family, same
# shingle pipeline — is inside both the lsh_pairs and incremental
# rows' green hashes, and the operator keeps direct pytest coverage).
# Round-6 side note recorded in NOTES.md: upgrading this row to share
# the 16-hash lsh_pairs subplan (so Janino compiles it once) was
# implemented, measured net-negative (family cold 3.49→4.51 s, warm
# 1.52→1.84 s at sf0.1), and reverted before the displacement.


# DuckDB mirror of the 16-hash / 4-band MinHash-LSH pipeline. The md5
# hash family (functions/hashing) is bit-for-bit portable, so the whole
# pipeline — signatures, band buckets (md5 over comma-joined signature
# slices, operators/dedup.py::minhash_near_dup_pairs), candidate join,
# est_jaccard — is deterministic and hash-checkable. est_jaccard values
# are exact multiples of 1/16 (exactly representable in float64), so
# ROUND(·, 4) is lossless on both engines.
_MH_N, _MH_BANDS, _MH_RPB = 16, 4, 4
_MH_SIG_COLS = ",\n           ".join(
    f"MIN({family_hash_sql('sh', i)}) AS h{i}" for i in range(_MH_N)
)
_MH_BUCKET_COLS = ",\n           ".join(
    "md5("
    + " || ',' || ".join(f"h{b * _MH_RPB + r}::VARCHAR" for r in range(_MH_RPB))
    + f") AS bk{b}"
    for b in range(_MH_BANDS)
)
_MH_CANDS = "\n      UNION\n      ".join(
    f"SELECT l.doc_id AS a, r.doc_id AS b FROM banded l "
    f"JOIN banded r ON l.bk{b} = r.bk{b} AND l.doc_id < r.doc_id"
    for b in range(_MH_BANDS)
)
_MH_MATCHES = " + ".join(f"(za.h{i} = zb.h{i})::INT" for i in range(_MH_N))


@register(
    "dd_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    short AS (
      -- operator fallback: docs with 1-2 tokens get one whole-text shingle
      SELECT doc_id, array_to_string(t, ' ') AS sh
      FROM (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents) s
      WHERE len(t) BETWEEN 1 AND 2
    ),
    allsh AS (
      SELECT doc_id, sh FROM shingles UNION ALL SELECT doc_id, sh FROM short
    ),
    sig AS (
      SELECT doc_id,
           {_MH_SIG_COLS}
      FROM allsh GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
           {_MH_BUCKET_COLS}
      FROM sig
    ),
    cand AS (
      {_MH_CANDS}
    )
    SELECT c.a, c.b,
           ROUND(({_MH_MATCHES}) / 16.0, 4) AS est_jaccard
    FROM cand c
    JOIN sig za ON za.doc_id = c.a
    JOIN sig zb ON zb.doc_id = c.b
    WHERE ROUND(({_MH_MATCHES}) / 16.0, 4) >= 0.4
    """,
)
def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over the whole corpus (banded bucketing
    → candidate join → signature-overlap estimate). The md5-derived hash
    family is deterministic and engine-portable, so unlike the xxhash64
    families (SimHash, Jaccard join keys) this row is fully
    hash-verifiable: the oracle mirrors banding and est_jaccard exactly."""
    spark = _tune_shingle_shuffle(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=16, num_bands=4, threshold=0.4
    )


@register(
    "dd_incremental_near_dup",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    short AS (
      SELECT doc_id, array_to_string(t, ' ') AS sh
      FROM (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents) s
      WHERE len(t) BETWEEN 1 AND 2
    ),
    allsh AS (
      SELECT doc_id, sh FROM shingles UNION ALL SELECT doc_id, sh FROM short
    ),
    sig AS (
      SELECT doc_id,
           {_MH_SIG_COLS}
      FROM allsh GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
           {_MH_BUCKET_COLS}
      FROM sig
    ),
    cand AS (
      {_MH_CANDS}
    )
    SELECT c.a, c.b,
           ROUND(({_MH_MATCHES}) / 16.0, 4) AS est_jaccard
    FROM cand c
    JOIN sig za ON za.doc_id = c.a
    JOIN sig zb ON zb.doc_id = c.b
    WHERE ROUND(({_MH_MATCHES}) / 16.0, 4) >= 0.4
    """,
)
def dd_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalence grading of the INCREMENTAL near-dup path
    (streaming/near_dup.py): the corpus arrives as three deterministic
    micro-batches (doc_id mod 3, processed in order) against a fresh
    ``PartitionedSignatureStore``; history is never re-hashed, the
    store crosses zero exchanges, and each batch's candidate read
    prunes to the (band, bucket-prefix) partitions it probes. The
    union of per-batch pair sets, canonicalized to a < b, must equal
    the one-shot batch operator over the whole corpus — which is
    exactly the DuckDB MinHash-LSH oracle (same md5 hash family,
    same 16/4 banding, same est_jaccard ≥ 0.4), so the only
    substantive beyond-reference streaming family is hash-verified
    end to end, not just pytest-equivalence-tested.

    A pair is emitted exactly once: cross-batch when its LATER member
    ingests (the earlier one is already in the store), within-batch by
    the intra self-join's new_id > old_id guard — so the union needs
    no cross-batch dedup.

    r15 optimization round: the r13 per-(process, sf_dir) memo of the
    canonicalized pair set (write-once /tmp parquet) was REMOVED — a
    persisted output keyed on the sf_dir is result caching, and every
    bench invocation must compute from the parquet inputs — so each
    call ingests all three micro-batches against a FRESH store. The
    per-batch machinery runs on a ``newSession`` clone with an
    8-partition shuffle width (each batch is a third of one sf's
    documents; 32-wide exchanges for it are pure task overhead — the
    st_interval_stream_join sizing precedent)."""

    import tempfile

    from ..streaming import near_dup as ND
    from .. import tmpstate

    from ..session import scoped_session

    def _setup(s: SparkSession) -> None:
        s.conf.set("spark.sql.shuffle.partitions", "8")
        # the bulk store write clusters by (batch, band, bp) — 24 tiny
        # partitions AQE would coalesce into ONE task that then writes
        # all 24 directories serially (~0.6 s of the row's warm cost,
        # r16 stage profile); at a fixed 8-wide the write fans out to
        # ~3 dirs/task. Scoped to this clone only — the conf is a
        # micro-batch-sizing choice exactly like the 8-partition width.
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    scoped = scoped_session(spark, "ndup8", fingerprint="8/nc", setup=_setup)
    docs = load_table(scoped, sf_dir, "documents")

    root = tmpstate.track(tempfile.mkdtemp(prefix="regpulse_ndstore_"))
    # n_prefix=2 keeps the bucket-prefix pruning dimension real while
    # bounding the store to 4 bands × 2 prefixes = 8 partition dirs
    # per batch: the row's cost is dominated by fixed per-batch action
    # overhead, not data volume — at n_prefix=16 directory fanout alone
    # added ~40% wall time at sf0.1 for zero extra evidence
    # (full-fanout pruning is plan-asserted in
    # tests/test_incremental_near_dup.py). materialize=False defers
    # each batch's pair execution to the ONE final action — the
    # per-batch pre-append pin comes from the store read's frozen file
    # index (incremental_near_dup docstring) — which requires the
    # store to outlive the returned plan, so it stays in /tmp for the
    # process lifetime instead of being rmtree'd here.
    store = ND.PartitionedSignatureStore(scoped, root, n_prefix=2)
    # r16 (VERDICT r15 item 5): the three micro-batches ingest in ONE
    # write job over ONE signature pass (bulk_ingest_near_dup) instead
    # of three sequential appends — the store layout and every
    # per-batch pair plan are identical to sequential ingestion
    # (equivalence pinned in tests/test_incremental_near_dup.py), but
    # the per-call fixed cost drops from 3 signature aggregations + 3
    # partitioned writes to 1 + 1.
    allp = ND.bulk_ingest_near_dup(
        docs,
        store,
        batch_expr=F.pmod("doc_id", F.lit(3)) + F.lit(1),
        n_batches=3,
        num_hashes=16,
        num_bands=4,
        threshold=0.4,
    )
    return allp.select(
        F.least("new_id", "old_id").alias("a"),
        F.greatest("new_id", "old_id").alias("b"),
        "est_jaccard",
    )


# DuckDB mirror of the 60-bit / 6-band SimHash Hamming-LSH pipeline.
# The per-shingle base hash is the 60-bit md5 slice (functions/hashing.
# md5_long), bit-for-bit portable, so fingerprints, band buckets,
# candidates, and the exact Hamming rescore are all reproducible in
# plain integer SQL — same md5 trick that made dd_minhash_lsh_pairs
# hash-verifiable in round 3.
_SH_BITS, _SH_BANDS, _SH_MAXHAM = 60, 6, 5
_SH_BAND_BITS = _SH_BITS // _SH_BANDS
_SH_VOTE_COLS = ",\n           ".join(
    f"SUM((h >> {i}) & 1) AS b{i}" for i in range(_SH_BITS)
)
_SH_FP = "\n         + ".join(
    f"(CASE WHEN b{i} * 2 >= n THEN {1 << i} ELSE 0 END)" for i in range(_SH_BITS)
)
_SH_CANDS = "\n      UNION\n      ".join(
    f"SELECT l.doc_id AS a, r.doc_id AS b FROM banded l "
    f"JOIN banded r ON ((l.simhash >> {b * _SH_BAND_BITS}) & {(1 << _SH_BAND_BITS) - 1})"
    f" = ((r.simhash >> {b * _SH_BAND_BITS}) & {(1 << _SH_BAND_BITS) - 1})"
    f" AND l.doc_id < r.doc_id"
    for b in range(_SH_BANDS)
)


@register(
    "dd_simhash_near_dup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_LOWER} AS t FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
      FROM toks WHERE len(t) >= 2
    ),
    sh2 AS (
      -- distinct 2-word shingles (word_shingles applies array_distinct)
      SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w AS sh
      FROM tok t1 JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
    ),
    short AS (
      -- operator fallback: 1-token docs get one whole-text shingle
      SELECT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) = 1
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, sh FROM sh2 UNION ALL SELECT doc_id, sh FROM short)
    ),
    votes AS (
      SELECT doc_id, COUNT(*) AS n,
           {_SH_VOTE_COLS}
      FROM hashed GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
           {_SH_FP} AS simhash
      FROM votes
    ),
    banded AS (SELECT doc_id, simhash FROM fp),
    cand AS (
      {_SH_CANDS}
    )
    SELECT c.a, c.b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.a
    JOIN fp fb ON fb.doc_id = c.b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {_SH_MAXHAM}
    """,
)
def dd_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup over the whole corpus via banded Hamming-LSH
    (operators/dedup.py::simhash_near_dup_pairs): 60-bit vote
    fingerprints in 6 bands → equi-join candidates → exact bit_count
    rescore at Hamming ≤ 5 (full recall at that distance by pigeonhole).
    Base hash is the portable 60-bit md5 slice, so the oracle mirrors
    the fingerprint/banding/rescore pipeline exactly — fully
    hash-verified since round 4 (previously rows-only on xxhash64)."""
    spark = _tune_shingle_shuffle(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.simhash_near_dup_pairs(
        docs, "text", "doc_id", shingle_k=2, n_bits=60, n_bands=6, max_hamming=5,
        base="md5",
    )
    return pairs.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


# DuckDB mirror of the banded sign-LSH embedding near-dup pipeline.
# The 12 hyperplanes are md5-derived constants (operators/vector.py::
# _hyperplanes — no RNG), so they embed as float64 literals in the
# oracle; bucket bits are sign(plane·embedding) packed 3-per-band
# exactly as functions/vecmath.band_buckets_udf does, candidates are the
# UNION of the 4 band self-joins (UNION's dedup ≡ the Spark side's
# first-matching-band filter: each pair once), and the rescore is
# float64 cosine rounded to 4dp on both engines (the e4 precedent).
def _emb_lsh_oracle(dim: int = 64, n_planes: int = 12, n_bands: int = 4) -> str:
    from ..operators.vector import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    r = n_planes // n_bands
    dots = ",\n           ".join(
        f"list_dot_product(e, [{', '.join(repr(x) for x in plane)}]) >= 0 AS s{p}"
        for p, plane in enumerate(planes)
    )
    buckets = ",\n           ".join(
        " + ".join(f"{1 << j}*(s{b * r + j})::INT" for j in range(r)) + f" AS bk{b}"
        for b in range(n_bands)
    )
    cands = "\n      UNION\n      ".join(
        f"SELECT l.vec_id AS a, r.vec_id AS b FROM banded l "
        f"JOIN banded r ON l.bk{b} = r.bk{b} AND l.vec_id < r.vec_id"
        for b in range(n_bands)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id < 1000
    ),
    signs AS (
      SELECT vec_id,
           {dots}
      FROM emb
    ),
    banded AS (
      SELECT vec_id,
           {buckets}
      FROM signs
    ),
    cand AS (
      {cands}
    )
    SELECT c.a, c.b,
           ROUND(list_cosine_similarity(ea.e, eb.e), 4) AS cosine_sim
    FROM cand c
    JOIN emb ea ON ea.vec_id = c.a
    JOIN emb eb ON eb.vec_id = c.b
    WHERE ROUND(list_cosine_similarity(ea.e, eb.e), 4) >= 0.35
    """


@register("dd_embedding_near_dup", oracle=_emb_lsh_oracle())
def dd_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via *banded* sign-LSH candidate join +
    exact rescoring (operators/vector.py::cosine_near_dup_pairs) — the
    linear-scale path. Threshold 0.35 is calibrated to the synthetic
    embeddings (max pairwise cosine ≈ 0.51). Fully hash-verified since
    round 4 (was rows-only): the hyperplanes are md5-derived constants,
    so the oracle replays the identical banding + float64 rescore;
    recall vs the exact cross join stays pytest-verified
    (tests/test_ann_recall.py)."""
    from ..operators import vector as V

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return V.cosine_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.35, dim=64, n_planes=12, n_bands=4
    )


# DuckDB mirror of pair→cluster transitive closure: the edge list is
# the EXACT MinHash-LSH pair pipeline (md5 hash family, bit-portable),
# and the component label (minimum reachable doc_id) comes from a
# recursive reachability CTE — O(cluster² ) per cluster, affordable at
# the sf0.01 oracle scale where dup clusters are a handful of docs. The
# Spark side must converge to the identical min-label fixpoint.
_CC_REACH_SQL = f"""
    WITH RECURSIVE pairs AS (
      WITH {_SHINGLES_SQL},
      short AS (
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents) s
        WHERE len(t) BETWEEN 1 AND 2
      ),
      allsh AS (
        SELECT doc_id, sh FROM shingles UNION ALL SELECT doc_id, sh FROM short
      ),
      sig AS (
        SELECT doc_id,
             {{sig_cols}}
        FROM allsh GROUP BY doc_id
      ),
      banded AS (
        SELECT doc_id,
             {{bucket_cols}}
        FROM sig
      ),
      cand AS (
        {{cands}}
      )
      SELECT c.a, c.b
      FROM cand c
      JOIN sig za ON za.doc_id = c.a
      JOIN sig zb ON zb.doc_id = c.b
      WHERE ROUND(({{matches}}) / 16.0, 4) >= 0.4
    ),
    edges AS (
      SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r
    )
    SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY id
""".format(
    sig_cols=_MH_SIG_COLS, bucket_cols=_MH_BUCKET_COLS, cands=_MH_CANDS,
    matches=_MH_MATCHES,
)


@register("dd_cluster_components", oracle=_CC_REACH_SQL)
def dd_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair→CLUSTER transitive closure — the step every real 100 TB dedup
    pipeline runs after LSH: near-dup PAIRS (the hash-graded MinHash-LSH
    pipeline, md5 family, 16 hashes / 4 bands, est_jaccard ≥ 0.4) become
    duplicate GROUPS via iterated min-label propagation
    (operators/components.py::connected_components), every document
    labeled with the minimum doc_id reachable through the pair graph
    (isolated docs are their own singleton components). "Keep one
    representative per group" then means the group CLOSURE, not just
    pairwise losers.

    Scale shape: per round one equi-join of the symmetrized edge list
    against the label table plus one groupBy-min — both keyed on the
    node id, never an all-pairs product (machine-asserted via the
    round_plans probe in tests/test_components.py) — with per-round
    localCheckpoint lineage truncation; rounds needed = graph diameter,
    and dup-cluster graphs are shallow near-cliques (converges in ≤ 4
    rounds on every sf of this corpus). The oracle replays the identical
    pair pipeline in DuckDB and closes it with a recursive reachability
    CTE — the whole row is hash-verified end to end.

    r13: clustering runs over exact-dup clique REPRESENTATIVES and
    labels expand through the membership map afterwards — for the
    components path the intra-clique all-pairs expansion the pairwise
    API must emit is pure waste (a clique is connected by definition),
    so this row clusters the DISTINCT-content graph and never
    materializes B²/2 clique pairs at all. Labels are unchanged:
    component = min reachable doc id, each rep is its clique's min id,
    and min-over-reps ≡ min-over-members. Ineligible (token-less) docs
    and singleton cliques fall through the left joins as their own
    components, exactly as before."""
    from ..operators.components import connected_components

    spark = _tune_shingle_shuffle(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    members, rep_docs = DD.exact_clique_membership(docs, "text", "doc_id")
    rep_pairs = DD.minhash_near_dup_pairs(
        rep_docs, "text", "doc_id", num_hashes=16, num_bands=4, threshold=0.4,
        collapse_exact=False,
    ).select("a", "b")
    # components over the PAIR-GRAPH nodes only (r16): passing every
    # rep as an isolated node made the label table corpus-sized and
    # every propagation round join all of it, yet the expansion below
    # folds reps absent from rep_comp back to their REP id via the
    # coalesce — loop state shrinks to the nodes that can actually
    # change label (pair-graph nodes ≪ corpus).
    rep_comp = connected_components(
        rep_pairs,
        src_col="a",
        dst_col="b",
        id_col="id",
    )
    # expand: every doc resolves its rep (multi-clique members via the
    # small membership map — AQE-broadcastable — everyone else is their
    # own rep), then takes the rep's component label
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    rep_of = members.select(
        F.col("doc_id").alias("_mid"), F.col("_rep").alias("_mrep")
    )
    labeled = (
        base.join(rep_of, base["doc_id"] == rep_of["_mid"], "left")
        .withColumn("_r", F.coalesce(F.col("_mrep"), F.col("doc_id")))
        .join(
            rep_comp.select(F.col("id").alias("_r"), "component"),
            "_r",
            "left",
        )
    )
    return labeled.select(
        "doc_id",
        # a clique with no near-dup partner is absent from rep_comp;
        # its members share the rep's label, not their own ids
        F.coalesce(F.col("component"), F.col("_r"))
        .cast("long")
        .alias("component"),
    )


@register(
    "fz_editdist_pairs",
    oracle="""
    WITH s AS (
      SELECT doc_id, lower(substr(text, 1, 32)) AS v FROM documents
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           levenshtein(a.v, b.v) AS edit_distance
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE abs(length(a.v) - length(b.v)) <= 2
      AND levenshtein(a.v, b.v) <= 2
    """,
)
def fz_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy self-join (operators/fuzzy.py): canonical
    (a < b) pairs of documents whose lowercased 32-char text prefixes
    are within Levenshtein distance 2 — the CHARACTER-level
    near-duplicate complement of the token-level MinHash/Jaccard
    families (one typo flips every 3-word shingle; it flips at most
    q q-grams). The Spark side runs the real prefix-filtered path:
    q-gram posexplode (G3's posexplode algebra is graded here since
    the r9 fold), global-rarity prefix selection (Gravano/Ed-Join),
    positional + length filters, then JVM ``levenshtein`` rescore on
    candidates only — the oracle is the brute-force all-pairs twin
    DuckDB can afford at sf0.01. q=5 on this 31-word synthetic
    vocabulary (3-grams are all hubs: 562 distinct over 170k rows at
    sf0.1; 5-grams cross word boundaries — measured 9.9 s → 2.9 s for
    the identical 256 pairs). Recall is exact for strings longer than
    q(d-1)+1 = 6 chars; these are 32."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring("text", 1, 32)).alias("v")
    )
    from ..operators import fuzzy as FZ

    return FZ.fuzzy_dedup_keys(docs, "v", "doc_id", max_dist=2, q=5)


# Exact duplicated-span dedup (operators/spans.py — the Lee et al.
# substring-dedup family). The oracle groups grams by their literal
# STRING while the Spark side groups by xxhash64 of the same string:
# identical equivalence classes modulo a 64-bit hash collision (the
# operator's documented approximation; none exists in the fixtures).
# Both sides share the tokenizer contract proven by the shingle
# oracles (_TOKS_LOWER ↔ functions/text.tokens ∘ lower).
_DUP_SPANS_SQL = f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOKS_LOWER} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, i, array_to_string(list_slice(t, i + 1, i + 8), ' ') AS gram
      FROM (
        SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS i
        FROM toks WHERE len(t) >= 8
      )
    ),
    dup AS (
      SELECT gram FROM pos GROUP BY gram
      HAVING COUNT(*) >= 2 AND COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT p.doc_id, p.i FROM pos p JOIN dup d USING (gram)),
    isl AS (
      SELECT doc_id, i,
             CASE WHEN i > COALESCE(MAX(i + 8) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_grp
      FROM hits
    ),
    grp AS (
      SELECT doc_id, i,
             SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS g
      FROM isl
    ),
    spans AS (
      SELECT doc_id, MIN(i) AS span_start, MAX(i) + 8 AS span_end
      FROM grp GROUP BY doc_id, g
    ),
    content AS (
      SELECT s.doc_id, s.span_start, s.span_end,
             array_to_string(list_slice(t, s.span_start + 1, s.span_end), ' ') AS c
      FROM spans s JOIN toks USING (doc_id)
    ),
    strip AS (
      SELECT doc_id, span_start, span_end FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY c ORDER BY doc_id, span_start) AS occ
        FROM content
      ) WHERE occ > 1
    ),
    tokpos AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) - 1 AS ti
      FROM toks WHERE doc_id IN (SELECT doc_id FROM strip)
    ),
    rebuilt AS (
      SELECT tp.doc_id,
             COALESCE(string_agg(tp.w, ' ' ORDER BY tp.ti)
                        FILTER (WHERE st.span_start IS NULL), '') AS text_clean,
             COUNT(*) FILTER (WHERE st.span_start IS NOT NULL) AS n_removed
      FROM tokpos tp
      LEFT JOIN strip st
        ON st.doc_id = tp.doc_id
       AND tp.ti >= st.span_start AND tp.ti < st.span_end
      GROUP BY tp.doc_id
    )
    SELECT 'span' AS leg, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_end AS BIGINT) AS span_end,
           CAST(span_end - span_start AS BIGINT) AS n,
           CAST(NULL AS VARCHAR) AS text_md5
    FROM spans
    UNION ALL
    SELECT 'doc', CAST(d.doc_id AS BIGINT), NULL, NULL,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT),
           md5(CASE WHEN r.doc_id IS NOT NULL THEN r.text_clean ELSE d.text END)
    FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
"""


@register("dd_dup_spans", oracle=_DUP_SPANS_SQL)
def dd_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN dedup (operators/spans.py — the Lee et al.
    2021 substring-dedup family re-expressed as relational algebra):
    boilerplate/license/quote passages that repeat INSIDE otherwise
    distinct documents, which document-level dedup cannot see.

    Two hash-graded legs off one detection pass:
    - ``leg='span'``: the maximal duplicated-span inventory
      (k=8-token windows occurring ≥2 times across ≥2 documents,
      gaps-and-islands merged) — (doc_id, span_start, span_end, n).
    - ``leg='doc'``: the keep-first strip rewrite — every document's
      ``md5(text)`` after removing all NON-canonical occurrences
      (globally-first (doc_id, span_start) of each distinct span
      content is the keeper), plus ``n`` = tokens removed. Span-free
      documents pass through byte-for-byte, so their md5 doubles as a
      no-touch guard.

    Plan shape (scale notes in operators/spans.py): tokenize+posexplode
    once (lazily pinned), one groupBy on the 8-byte gram hash (map-side
    partials collapse the unique-gram majority), one join back, one
    per-doc window — the only shuffles are on the hash and the doc key.
    """
    from ..operators import spans as SP

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    spans = SP.duplicated_spans(docs, k=8, min_count=2, min_docs=2)
    # pinned: the span frame feeds THREE consumers (the span leg,
    # keeper election, and the per-doc strip aggregate)
    spans = spans.localCheckpoint(eager=False)
    stripped = SP.strip_duplicated_spans(docs, spans=spans, keep="first")
    leg_span = spans.select(
        F.lit("span").alias("leg"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_tokens").cast("long").alias("n"),
        F.lit(None).cast("string").alias("text_md5"),
    )
    leg_doc = stripped.select(
        F.lit("doc").alias("leg"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("span_start"),
        F.lit(None).cast("long").alias("span_end"),
        F.col("n_tokens_removed").cast("long").alias("n"),
        F.md5("text").alias("text_md5"),
    )
    return leg_span.unionByName(leg_doc)
