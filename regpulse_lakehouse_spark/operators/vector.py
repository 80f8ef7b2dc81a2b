"""Vector / embedding operators — SURVEY.md §2.10 E1-E4 plus the
similarity-search extension (BASELINE.json north-star).

The reference stores pgvector embeddings but never runs similarity
itself (merge.ts:22-39 delegates retrieval to OpenAI file_search; the
client stub returns [] — vector-store.ts:21-26). The rebuild implements
real search:

- ``cosine`` / ``topk_neighbors``: exact brute-force — the correctness
  semantics. Dot products run as JVM higher-order functions
  (``zip_with`` + ``aggregate``), no Python in the loop.
- ``with_lsh_bucket`` / ``ann_topk_lsh``: random-hyperplane LSH for the
  100 TB path — candidates come from one bucket-equi-join shuffle
  instead of a full cross product; exactness traded for recall, tested
  by recall not by hash.
- ``deterministic_embedding``: the E1 test-path embedder
  (vectorize.ts:6-33 behind an interface) — md5-derived pseudo-vectors,
  reproducible on any engine.

At cluster scale brute-force top-k against one query is a map-side
scan + TakeOrdered (no shuffle); batched multi-query search should use
``ann_topk_lsh`` so the candidate join shuffles on bucket id.
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


def topk_neighbors(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qe",
) -> DataFrame:
    """E4 exact top-k: broadcast the (single-row) query, score every
    corpus vector, TakeOrdered(k). One scan, zero shuffles."""
    joined = corpus.crossJoin(F.broadcast(query))
    sim = cosine(F.col(vec_col), F.col(query_vec_col))
    return (
        joined.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


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


def with_lsh_bucket(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, n_planes: int = 12
) -> DataFrame:
    """Random-hyperplane LSH: bucket = bit-packed signs of plane dots.
    Same-bucket vectors are cosine-close with high probability."""
    planes = _hyperplanes(dim, n_planes)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(F.col(vec_col), plane_col) >= 0, 1).otherwise(0).cast("long")
        bucket = bucket + (bit * F.lit(2**i).cast("long"))
    return df.withColumn("lsh_bucket", bucket)


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


def _probe_join_topk(
    assigned: DataFrame,
    probes_df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Candidate equi-join on cell id + exact Arrow-batched rescore +
    window top-k.

    With replica assignment and multi-probe a (query, vector) pair can
    meet in up to ``assign_top`` cells; the canonical-cell filter (keep
    the row whose join cell is the smallest cell both sides share — both
    arrays are ≤8 ints, row-local) deduplicates without a distinct()
    exchange, so the top-k window never ranks the same pair twice."""
    from pyspark.sql import Window as W

    from ..functions.vecmath import cosine_pd_once

    cand = assigned.join(probes_df, "cell").filter(
        F.array_min(F.array_intersect("_cells", "_probe_cells")) == F.col("cell")
    )
    w_k = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        cand.select(
            F.col(query_id_col),
            F.col(id_col),
            cosine_pd_once(F.col(vec_col), F.col(query_vec_col)).alias("cosine_sim"),
        )
        .withColumn("_rn", F.row_number().over(w_k))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_build(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_top: int = 2,
) -> None:
    """Materialize the IVF index as a cell-partitioned parquet layout:
    train the quantizer, assign every vector to its ``assign_top``
    nearest-centroid cells (replica assignment — ``assign_top``× storage
    for the boundary-recall win, see ivf_assign), write hive-partitioned
    by cell, persist the centroid matrix + assignment config next to the
    data. This is the 100 TB shape: a search that probes n_probe of
    n_centroids cells reads n_probe/n_centroids of the files
    (directory-level partition pruning), not the whole corpus."""
    import json
    import os

    centroid_mat = _train_quantizer(corpus, id_col, vec_col, n_centroids)
    assigned = ivf_assign(corpus.select(id_col, vec_col), centroid_mat, vec_col, assign_top)
    # small-files guard: one shuffle by cell so each cell dir gets ~one
    # file instead of one per upstream task (see signature store append)
    assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as fh:
        json.dump({"centroids": centroid_mat.tolist(), "assign_top": assign_top}, fh)


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
) -> DataFrame:
    """Search a built IVF layout: load centroids, pick each query's
    n_probe cells driver-side, scan ONLY those cell partitions
    (``cell IN (...)`` prunes directories — asserted in
    tests/test_ann_recall.py), rescore exactly, window top-k."""
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "_centroids.json")) as fh:
        meta = json.load(fh)
    # pre-round-5 layouts stored a bare centroid list (no assign_top key)
    centroid_mat = np.asarray(
        meta["centroids"] if isinstance(meta, dict) else meta, dtype=np.float64
    )
    probes_df = _with_probe_cells(queries, centroid_mat, query_vec_col, n_probe)
    # Directory pruning needs the probed-cell set as literals; collect the
    # DISTINCT cells (≤ n_centroids ints — never the query set itself).
    needed = sorted(r[0] for r in probes_df.select("cell").distinct().collect())
    assigned = spark.read.parquet(path).filter(F.col("cell").isin(needed))
    if "_cells" not in assigned.columns:  # pre-round-5 single-assign layout
        assigned = assigned.withColumn("_cells", F.array(F.col("cell")))
    return _probe_join_topk(
        assigned, probes_df, k, id_col, vec_col, query_id_col, query_vec_col
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    assign_top: int = 2,
) -> DataFrame:
    """IVF-style approximate batched top-k: coarse quantizer trained by
    deterministic spherical k-means on a bounded driver-side sample
    (stride init, fixed iteration count — no RNG), corpus replicated into
    its ``assign_top`` nearest-centroid cells, queries probe their
    ``n_probe`` nearest cells, exact rescoring within probed cells with
    row-local candidate dedup, window top-k. The candidate join is an
    equi-join on cell id — shuffle linear in corpus + probe size, never
    quadratic. Vector math runs as Arrow-batched numpy
    (functions/vecmath.py) — interpreted HOF lambdas are the wrong tool
    per-pair. Only the training sample (≤``train_cap`` rows) and the
    (n_centroids × dim) matrix touch the driver — the FAISS recipe: the
    quantizer trains on a sample regardless of corpus size.

    This is the ad-hoc (no prebuilt index) form; ``ivf_build`` +
    ``ivf_search`` persist the cell-partitioned layout so repeated
    searches read only the probed cells' files."""
    centroid_mat = _train_quantizer(corpus, id_col, vec_col, n_centroids)
    assigned = ivf_assign(corpus.select(id_col, vec_col), centroid_mat, vec_col, assign_top)
    probes_df = _with_probe_cells(queries, centroid_mat, query_vec_col, n_probe)
    return _probe_join_topk(
        assigned, probes_df, k, id_col, vec_col, query_id_col, query_vec_col
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


def embedding_cluster_edges(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    dim: int = 64,
    n_planes: int = 12,
    n_bands: int = 4,
    neighbor_window: int = 8,
) -> DataFrame:
    """Embedding counterpart of dedup.minhash_cluster_edges: linear
    neighbor-window edges over the banded sign-LSH table + exact
    Arrow-batched cosine rescore — the clustering-path guard against
    duplicate clusters that make ``cosine_near_dup_pairs`` (all
    qualifying pairs) quadratic. Same recall trade as the other
    windowed generators."""
    import numpy as np

    from ..functions.vecmath import band_buckets_udf, cosine_pd_once
    from .dedup import windowed_band_edges

    planes = np.asarray(_hyperplanes(dim, n_planes), dtype=np.float64)
    banded = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(band_buckets_udf(planes, n_bands)(F.col(vec_col))).alias(
            "band", "bucket"
        ),
    )
    cand = windowed_band_edges(banded, id_col, vec_col, ["band", "bucket"], neighbor_window)
    return (
        cand.withColumn(
            "cosine_sim", F.round(cosine_pd_once(F.col("payload_a"), F.col("payload_b")), 4)
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("a", "b", "cosine_sim")
        .dropDuplicates(["a", "b"])
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qe",
    dim: int = 64,
    n_planes: int = 12,
) -> DataFrame:
    """Approximate batched top-k: bucket both sides, equi-join on bucket
    (shuffle on bucket id — linear, not quadratic), exact rescoring
    within candidates, window top-k per query."""
    from pyspark.sql import Window as W

    import numpy as np

    from ..functions.vecmath import band_buckets_udf, cosine_pd_once

    planes = np.asarray(_hyperplanes(dim, n_planes), dtype=np.float64)
    bucket = band_buckets_udf(planes, 1)
    c = corpus.withColumn("lsh_bucket", F.element_at(bucket(F.col(vec_col)), 1))
    q = queries.withColumnRenamed(query_vec_col, "_qv").withColumn(
        "lsh_bucket", F.element_at(bucket(F.col("_qv")), 1)
    )
    cand = c.join(q, "lsh_bucket")
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        cand.select(
            F.col(query_id_col),
            F.col(id_col),
            cosine_pd_once(F.col(vec_col), F.col("_qv")).alias("cosine_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 64,
    threshold: float = 0.95,
    keep: str = "farthest",
    train_cap: int = 4096,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    on_nonconvergence: str = "raise",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with k-means, call two documents semantic
    duplicates when their cosine similarity within a cluster exceeds
    ``threshold``, and keep ONE representative per duplicate group —
    the paper keeps the member with the LOWEST similarity to its
    cluster centroid (``keep='farthest'``: the least prototypical item
    carries the most extra information); ``keep='min_id'`` is the
    deterministic id-based alternative matching the text-dedup
    operators.

    Spark shape: deterministic sample-trained quantizer (no RNG), one
    Arrow matmul pass to assign cells, within-cell candidate self-join
    (an equi-join on cell — the paper's complexity bound: pair
    generation is quadratic only in CLUSTER size, so pick
    ``n_clusters ≈ N / target_cluster_size``), exact Arrow-batched
    cosine rescore, transitive closure via min-label propagation, and
    one window to pick each component's representative. Returns the
    surviving corpus rows (documents with no semantic duplicate pass
    through untouched).

    Reference parity: none — beyond-parity surface for the
    training-data-pipeline north star (the reference has no embedding
    operators at all; SURVEY.md §2.10)."""
    from pyspark.sql import Window as W

    from ..functions.vecmath import centroid_sim_udf, cosine_pd_once
    from .components import connected_components

    if keep not in ("farthest", "min_id"):
        raise ValueError(f"keep must be 'farthest' or 'min_id', got {keep!r}")
    centroid_mat = _train_quantizer(corpus, id_col, vec_col, n_clusters, train_cap)
    assigned = ivf_assign(corpus.select(id_col, vec_col), centroid_mat, vec_col, 1)
    a = assigned.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_ea"), "cell")
    b = assigned.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_eb"), "cell")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .withColumn("_cs", cosine_pd_once(F.col("_ea"), F.col("_eb")))
        .filter(F.col("_cs") >= threshold)
        .select("a", "b")
    )
    comp = connected_components(
        pairs,
        src_col="a",
        dst_col="b",
        id_col=id_col,
        max_iterations=max_iterations,
        checkpoint_dir=checkpoint_dir,
        on_nonconvergence=on_nonconvergence,
    )
    if keep == "min_id":
        losers = comp.filter(F.col(id_col) != F.col("component")).select(id_col)
        return corpus.join(losers, id_col, "left_anti")
    # farthest-from-centroid representative: rank each component's
    # members by similarity to their own centroid (ascending — least
    # prototypical wins), id as the deterministic tie-break. The
    # centroid-sim UDF runs ONLY over component members (join first):
    # Catalyst cannot push a join below a Python-UDF projection, and
    # duplicates are typically a few percent of the corpus — scoring
    # everyone first would waste a full-corpus Arrow pass.
    members = comp.join(assigned.select(id_col, vec_col, "cell"), id_col)
    sims = members.withColumn(
        "_centroid_sim", centroid_sim_udf(centroid_mat)(F.col(vec_col), F.col("cell"))
    ).select(id_col, "component", "_centroid_sim")
    w = W.partitionBy("component").orderBy(F.asc("_centroid_sim"), F.asc(id_col))
    losers = (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col)
    )
    return corpus.join(losers, id_col, "left_anti")
