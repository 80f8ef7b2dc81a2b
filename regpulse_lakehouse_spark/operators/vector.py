"""Vector / embedding operators — SURVEY.md §2.10 E1-E4 plus the
similarity-search extension (BASELINE.json north-star).

The reference stores pgvector embeddings but never runs similarity
itself (merge.ts:22-39 delegates retrieval to OpenAI file_search; the
client stub returns [] — vector-store.ts:21-26). The rebuild implements
real search:

- ``cosine``: exact cosine — the correctness semantics of the
  ``e4_batch_similarity`` row (broadcast query set, per-query window
  top-k). Dot products run as JVM higher-order functions
  (``zip_with`` + ``aggregate``), no Python in the loop.
- ``ivf_assign`` / ``bounded_sample_matrix`` / ``_train_quantizer`` /
  ``_with_probe_cells``: the coarse-quantizer half of the persisted
  IVF-PQ index (operators/quantize.ivf_pq_build / ivf_pq_search, the
  ``e4_ivf_topk`` row) — the one approximate search path.
- ``cosine_near_dup_pairs``: banded random-hyperplane LSH pairs for
  embedding near-dup detection, exactly rescored.
- ``deterministic_embedding``: the E1 test-path embedder
  (vectorize.ts:6-33 behind an interface) — md5-derived pseudo-vectors,
  reproducible on any engine.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .delta_log import DeltaLogTable


def _to_double(v: Column) -> Column:
    return v.cast("double")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-fold — element order fixed, so results are
    deterministic across partitionings."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _to_double(x) * _to_double(y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL)."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def deterministic_embedding(text: Column, dim: int = 8) -> Column:
    """E1 deterministic pseudo-embedding: component i is
    (md5_long(i:text) mod 2000)/1000 - 1 ∈ [-1, 1). Portable to any
    engine that has md5 — the DuckDB oracle reproduces it bit-exactly."""
    comps = [
        ((md5_long(text, seed=str(i)) % 2000) / F.lit(1000.0) - 1.0) for i in range(dim)
    ]
    return F.array(*comps)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (hash-derived, no RNG
    state) for sign-LSH."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int.from_bytes(hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[:8], "big")
            row.append((h % 2000) / 1000.0 - 1.0)
        nrm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / nrm for x in row])
    return planes


def get_or_create_default_store(
    table: DeltaLogTable, name: str = "default-local"
) -> str:
    """E2 default-store resolution (vectorize.ts:35-49, seed.ts:26-36):
    return the id of the ``provider='local'`` store, creating it when
    absent. ``table`` holds the vector_stores schema; the conditional
    append is a driver-side decision on a one-row lookup (stores are a
    tiny dimension table), and ``append`` on a missing table creates
    it."""
    import datetime as dt

    from ..schemas import VECTOR_STORES

    if table.exists():
        rows = table.read().filter(F.col("provider") == "local").limit(1).collect()
        if rows:
            return rows[0]["id"]
    store_id = f"vs-local-{name}"
    row = table.spark.createDataFrame(
        [
            (
                store_id,
                name,
                "local",
                None,
                "ready",
                dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
                {},
            )
        ],
        VECTOR_STORES,
    )
    table.append(row)
    return store_id


def ivf_assign(
    df: DataFrame,
    centroid_mat,
    vec_col: str = "embedding",
    assign_top: int = 1,
) -> DataFrame:
    """IVF cell assignment: nearest centroid(s) by cosine via an
    Arrow-batched matmul against the (small) centroid matrix — one scan
    of the corpus, no join (the 100 TB layout then partitions the corpus
    by cell so probes touch only matching partitions).

    ``assign_top`` > 1 is replica assignment (the recall lever that
    actually works on weakly-clustered corpora — round-5 measurement:
    probe=7 alone 0.72, probe=7 + assign_top=2 0.88-0.96 across sf0.001-
    0.1): each vector is stored in its ``assign_top`` nearest cells, so a
    true neighbor sitting just across a Voronoi boundary is still found
    without probing every borderline cell. Storage cost is exactly
    ``assign_top``×; the emitted ``_cells`` array (always present, even
    at assign_top=1) lets the probe join deduplicate candidate pairs
    row-locally."""
    from ..functions.vecmath import argmax_cell_udf, top_cells_udf

    if assign_top <= 1:
        return df.withColumn(
            "cell", argmax_cell_udf(centroid_mat)(F.col(vec_col))
        ).withColumn("_cells", F.array(F.col("cell")))
    cells = top_cells_udf(centroid_mat, assign_top)(F.col(vec_col))
    return df.withColumn("_cells", cells).withColumn("cell", F.explode("_cells"))


def bounded_sample_matrix(
    corpus: DataFrame, id_col: str, vec_col: str, train_cap: int = 4096
):
    """Deterministic bounded driver-side sample of a vector column as a
    sorted (≤ train_cap, dim) float64 matrix — the shared training
    input for every sample-trained quantizer (IVF coarse quantizer
    here, product quantizer in operators/quantize.py).

    Sampling takes the head of EVERY partition (ceil(cap/partitions)
    rows each) via an early-terminating mapInPandas: one narrow job that
    reads roughly one Arrow batch per partition, no shuffle, and — unlike
    a count()+stride pass — no full scan of the corpus per index build.
    Covering all partitions keeps the sample representative when the
    data is clustered (e.g. time-ordered), and nothing assumes a numeric
    id column.

    The partition-count estimate reads ``inputFiles()`` (file-listing
    metadata) like skew.fan_out — NOT ``rdd.getNumPartitions()``, which
    compiles the physical plan a second time (~0.5 s per index build).
    File count can err in BOTH directions: splittable files understate
    split count (harmless — per_part rises, ``limit(train_cap)`` trims
    the oversample), but file-PACKING overstates it (many small files
    coalesced into few splits, maxPartitionBytes), and an overestimate
    SHRINKS the sample below train_cap with no way to recover rows the
    sampler never took. Clamping the estimate to defaultParallelism
    bounds the damage both ways: oversampling is at most a
    parallelism-multiple of the cap, and the undersample floor is
    cap/parallelism rows per actual split. Non-file inputs fall back to
    defaultParallelism."""
    import numpy as np

    proj = corpus.select(id_col, vec_col)
    para = corpus.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = len(corpus.inputFiles())
    except Exception:
        n_parts = 0
    n_parts = min(n_parts, para) if n_parts > 0 else para
    per_part = max(1, -(-train_cap // n_parts))

    def _heads(batches):
        taken = 0
        for pdf in batches:
            if taken >= per_part:
                return
            chunk = pdf.iloc[: per_part - taken]
            taken += len(chunk)
            yield chunk

    sample_rows = proj.mapInPandas(_heads, proj.schema).limit(train_cap).collect()
    if not sample_rows:
        raise ValueError("cannot train a quantizer on an empty corpus")
    sample_rows.sort(key=lambda r: r[0])
    return np.asarray([list(r[1]) for r in sample_rows], dtype=np.float64)


def _train_quantizer(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    train_cap: int = 4096,
    sample=None,
):
    """IVF coarse quantizer: deterministic spherical k-means over the
    bounded sample (see bounded_sample_matrix for the sampling
    contract). Pass a pre-collected ``sample`` matrix to share one
    sampling job across several sample-trained quantizers (ivf_pq_build
    trains the coarse quantizer AND the PQ codebooks from the same
    sample — collecting it twice was a duplicate driver job per
    build)."""
    from ..functions.vecmath import train_centroids

    if sample is None:
        sample = bounded_sample_matrix(corpus, id_col, vec_col, train_cap)
    return train_centroids(sample, n_centroids)


def _with_probe_cells(
    queries: DataFrame, centroid_mat, query_vec_col: str, n_probe: int
) -> DataFrame:
    """Explode each query row into its n_probe nearest-centroid cells —
    computed cluster-side against the broadcast (tiny) centroid matrix
    (functions/vecmath.top_cells_udf), NOT by collecting the query set:
    probe selection stays distributed, so a 10^6-query batch join is as
    legal as a 5-query one. The full probe array rides along as
    ``_probe_cells`` so the candidate join can dedupe row-locally."""
    from ..functions.vecmath import top_cells_udf

    cells = top_cells_udf(centroid_mat, n_probe)(F.col(query_vec_col))
    return queries.withColumn("_probe_cells", cells).withColumn(
        "cell", F.explode("_probe_cells")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    dim: int = 64,
    n_planes: int = 12,
    n_bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via *banded* sign-LSH — the
    linear-scale candidate generator (mirrors MinHash banding): split the
    ``n_planes`` sign bits into ``n_bands`` bands; any shared
    (band, bucket) makes a candidate pair; candidate ids are deduped
    narrow (no vectors carried through the join), then exactly rescored
    via one Arrow-batched cosine per pair.

    Banding is what makes recall tunable: P(candidate) =
    1-(1-(1-θ/π)^r)^b for r bits/band over b bands, so weakly-similar
    pairs still collide in at least one band while the join stays an
    equi-join on (band, bucket) — one shuffle, no cross product.
    """
    import numpy as np

    from ..functions.vecmath import band_buckets_udf, cosine_pd_once

    planes = np.asarray(_hyperplanes(dim, n_planes), dtype=np.float64)
    # The explicit repartition on the join key + the non-broadcast join
    # hint make both self-join branches share ONE materialized shuffle
    # (AQE stage reuse): without them Catalyst broadcasts the small
    # side, the two exchange subtrees stop matching, and the
    # band-bucket Arrow matmul runs TWICE over the full corpus per
    # execution — measured 1.7 → 1.35 s warm at sf0.1, and at cluster
    # scale the saving is a whole corpus scan + Python stage. The
    # banded table is corpus×n_bands, so a broadcast was never the
    # right plan past toy sizes anyway.
    bucketed = (
        df.select(
            F.col(id_col), band_buckets_udf(planes, n_bands)(F.col(vec_col)).alias("_bks")
        )
        .select(
            F.col(id_col),
            "_bks",
            F.posexplode("_bks").alias("band", "bucket"),
        )
        .repartition("band", "bucket")
    )
    a = bucketed.select(F.col(id_col).alias("a"), F.col("_bks").alias("_bks_a"), "band", "bucket")
    b = bucketed.select(F.col(id_col).alias("b"), F.col("_bks").alias("_bks_b"), "band", "bucket")
    # Candidate pairs stay narrow (ids + n_bands ints per side; vectors
    # are fetched per-pair afterwards), and cross-band dedup is the
    # shared first-matching-band filter — both sides' bucket arrays
    # ride the join, so "did an earlier band also collide" is row-local
    # and no distinct() exchange is needed.
    from .dedup import keep_first_matching_band

    band_match = F.zip_with("_bks_a", "_bks_b", lambda x, y: x == y)
    cand = keep_first_matching_band(
        a.join(b.hint("shuffle_hash"), ["band", "bucket"]).filter(F.col("a") < F.col("b")),
        band_match,
    ).select("a", "b")
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_ea"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_eb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "cosine_sim", F.round(cosine_pd_once(F.col("_ea"), F.col("_eb")), 4)
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("a", "b", "cosine_sim")
    )
