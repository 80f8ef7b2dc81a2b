"""Physical table layout — partitioning & bucketing (SURVEY.md §4).

The reference's B-tree indexes map to Parquet layout at scale:

- `run_logs(run_id, created_at)` index → hive-partition by run date;
- `regulation_items` per-jurisdiction reads → partition by
  jurisdiction (merge jobs filter one jurisdiction: merge.ts:22-25);
- the `links` unique-tuple index is a *constraint*, enforced by dedup
  (operators/upsert.edge_upsert), not a physical layout.

Partition pruning makes the partition column's predicate a directory
filter — at 100 TB, reading one jurisdiction touches 1/10th of the
files before any row is decoded (verified in
tests/test_layout_skew.py by asserting the pruned scan's partition
count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Write hive-partitioned parquet (directory per partition value).

    Low-cardinality columns only (jurisdiction: 10 values, run date:
    1/day) — high-cardinality partitioning produces the small-files
    problem; use bucketing or plain sorting within files for those."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout; equality predicates on the partition
    columns prune directories (PartitionFilters in the scan node)."""
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table (`bucketBy` + `saveAsTable`): rows are
    hash-clustered into ``n_buckets`` files per partition by
    ``bucket_cols``, so a join or aggregation on the bucket key reads
    co-located data and SKIPS ITS EXCHANGE entirely — the persisted
    form of pre-shuffling, and the right layout for the high-cardinality
    keys hive-partitioning can't hold (fact-to-fact joins on orderkey,
    repeated groupBys on user id).

    Both join sides must share bucket count and key for the
    exchange-free plan; ``sort_cols`` additionally pre-sorts within
    buckets so sort-merge join skips its sort. Requires the session
    catalog (bucketing metadata lives there, not in the parquet files —
    a plain `.parquet(path)` read of the same files won't know about
    the clustering). Co-location is proven in
    tests/test_layout_skew.py::test_bucketed_join_is_exchange_free."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def write_training_shards(
    df: DataFrame,
    path: str,
    keys: list[str],
    n_shards: int,
    seed: str = "shuffle",
    mode: str = "overwrite",
) -> dict:
    """Export a corpus as ordered training shards: scatter into a
    reproducible pseudo-random order
    (operators/sampling.deterministic_shuffle — shard i is the i-th
    contiguous slice of the global order), write one parquet file per
    shard, and drop a ``_manifest.json`` recording the seed, keys,
    shard count, and per-file row counts (read back from parquet
    footers — metadata only, no second data pass). A trainer that
    consumes files in manifest order replays the exact global order on
    every engine and cluster size; re-running with the same seed
    reproduces it, a new seed gives an independent epoch permutation.
    Returns the manifest dict.

    File listing, footer reads, and the manifest write all go through
    the Hadoop FileSystem API (round-4 advice: the old local
    ``glob``/``open`` silently found zero files on S3/HDFS) — any
    scheme whose connector the cluster carries (file://, hdfs://,
    s3a://) works identically."""
    import json

    from ..operators.sampling import deterministic_shuffle

    sharded = deterministic_shuffle(df, keys, seed=seed, n_shards=n_shards)
    sharded.write.mode(mode).parquet(path)

    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    path_cls = getattr(jvm, "org.apache.hadoop.fs.Path")
    root = path_cls(path)
    fs = root.getFileSystem(conf)
    part_paths = sorted(
        (
            st.getPath()
            for st in fs.listStatus(root)
            if st.getPath().getName().startswith("part-")
            and st.getPath().getName().endswith(".parquet")
        ),
        key=lambda p: p.getName(),
    )
    shard_rows = []
    for p in part_paths:
        # parquet footer only — metadata read, no second data pass
        reader = getattr(jvm, "org.apache.parquet.hadoop.ParquetFileReader").open(
            getattr(jvm, "org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(p, conf)
        )
        try:
            n_rows = reader.getRecordCount()
        finally:
            reader.close()
        shard_rows.append({"file": p.getName(), "rows": n_rows})
    manifest = {
        "seed": seed,
        "keys": keys,
        "n_shards": n_shards,
        "total_rows": sum(s["rows"] for s in shard_rows),
        "shards": shard_rows,
    }
    out = fs.create(path_cls(root, "_manifest.json"), True)
    try:
        out.write(bytearray(json.dumps(manifest, indent=2).encode()))
    finally:
        out.close()
    return manifest


def zorder_key(
    cols: list[str], stats: dict[str, tuple[float, float]], bits: int
) -> Column:
    """Morton (Z-curve) interleave key over ``cols``: each column is
    linearly scaled to a ``bits``-bit integer using its (min, max) from
    ``stats``, then the columns' bits are interleaved so the key's sort
    order visits the k-dimensional space along the Z-curve — nearby key
    values are nearby in EVERY clustered column at once.

    Built as ONE ``F.expr`` string (k·bits shift/mask terms OR-ed
    together): nested Column operators through py4j cost ~2.5 s of
    driver time per ~60 subexpressions (the SimHash lesson —
    operators/dedup.py::simhash_fingerprints)."""
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        lo, hi = stats[c]
        span = (hi - lo) or 1.0
        scaled.append(
            f"least({top}L, greatest(0L, CAST((CAST(`{c}` AS DOUBLE) - {lo!r}) "
            f"/ {span!r} * {top} AS BIGINT)))"
        )
    k = len(cols)
    terms = [
        f"shiftleft(shiftright({s}, {i}) & 1, {i * k + j})"
        for j, s in enumerate(scaled)
        for i in range(bits)
    ]
    return F.expr("(" + " | ".join(terms) + ")")


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits: int | None = None,
    stats: dict[str, tuple[float, float]] | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order clustering — the Spark-first re-expression of Delta's
    ``OPTIMIZE ZORDER BY`` (the BASELINE.json north-star names
    Delta/Iceberg; the layout trick is engine-independent): range-
    partition + sort the data by a Morton key over ``zorder_cols`` so
    every output file covers a SMALL RANGE OF EVERY clustered column
    simultaneously. Parquet min/max stats (file footer + row-group)
    then skip files for predicates on ANY of the clustered columns —
    where a linear sort gives skipping on its leading column only.
    At 100 TB this is the difference between a 2-D point query reading
    ~1/√n_files of the data per dimension and reading everything that
    doesn't match the first sort key.

    One driver-side agg computes each column's (min, max) for the
    linear scaling (pass precomputed ``stats`` to skip the scan —
    table-stats catalogs usually have them). Linear scaling assumes
    roughly uniform value spread; heavily skewed columns cluster worse
    (Delta's own caveat) — pre-transform (log, rank) if it matters.
    ``repartitionByRange`` samples the key to place balanced splits —
    the standard range-partitioner pass, no full sort of the data.

    Numeric and date/timestamp columns (anything castable to DOUBLE).
    """
    if not zorder_cols:
        raise ValueError("zorder_cols must be non-empty")
    if bits is None:
        bits = min(16, 63 // len(zorder_cols))
    if bits * len(zorder_cols) > 63:
        raise ValueError(
            f"{len(zorder_cols)} cols × {bits} bits exceeds the 63-bit key"
        )
    if stats is None:
        row = df.agg(
            *[
                agg(F.col(c).cast("double")).alias(f"{which}_{c}")
                for c in zorder_cols
                for which, agg in (("min", F.min), ("max", F.max))
            ]
        ).first()
        stats = {
            c: (float(row[f"min_{c}"]), float(row[f"max_{c}"])) for c in zorder_cols
        }
    n_files = n_files or df.sparkSession.sparkContext.defaultParallelism
    key = zorder_key(zorder_cols, stats, bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )
