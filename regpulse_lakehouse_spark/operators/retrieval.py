"""BM25 full-text retrieval — inverted-index construction and ranked
search over the documents table.

Beyond-reference training-data-pipeline operator (the reference's only
retrieval surface is vector file_search, services/api/src/search.ts;
lexical retrieval is the standard complement for corpus curation:
quality-slice mining, targeted decontamination lookups, RAG-corpus
audits). Scoring is Lucene-flavoured BM25:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, q) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

Spark-first shape, two serving modes:

- **One-shot** (``bm25_topk``): the query's term set is tiny, so the
  exploded token stream is filtered to query terms BEFORE any
  aggregation — the per-(doc, term) tf agg and per-term df agg only ever
  see matching postings. Corpus stats (N, avgdl) are one tiny aggregate
  (2 scalar values collected). No index needed.
- **Persisted index** (``write_bm25_index`` / ``bm25_search``): postings
  (term, doc_id, tf, dl) hive-partitioned by ``tb = xxhash64(term) %
  n_buckets``, per-term df in a sibling table with the same layout, and
  (N, avgdl) in a one-row ``_meta`` table. A query touches at most
  |query-terms| buckets — directory pruning (PartitionFilters) plus a
  pushed ``term IN (...)`` scan filter means a 100 TB corpus serves a
  query from a few postings files, never a full scan. ``dl`` is
  denormalized onto every posting so query time needs no doc-table
  join; parquet dictionary-encodes the repeats away.

Everything is pure column expressions — no Python stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens

#: Characters that separate terms; mirrors functions.text.tokens (lowercased).
_K1_DEFAULT = 1.2
_B_DEFAULT = 0.75


def query_terms(query: str) -> list[str]:
    """Driver-side query tokenization — must mirror the corpus-side
    ``tokens(lower(text))`` EXACTLY, i.e. Java's ``\\s`` class
    ([ \\t\\n\\x0b\\f\\r], ASCII-only). Python's ``str.split()`` would
    NOT (it also splits on \\xa0 and other unicode spaces, so a query
    pasted from web text could match different postings than the same
    text tokenized corpus-side). Distinct, order-stable."""
    import re

    seen: dict[str, None] = {}
    for t in re.split(r"[ \t\n\x0b\f\r]+", query.lower()):
        if t:
            seen.setdefault(t, None)
    return list(seen)


def postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    terms: list[str] | None = None,
) -> DataFrame:
    """(term, id, tf, dl) posting rows. With ``terms`` given, the explode
    stream is filtered before the tf aggregate — the shuffle carries only
    matching postings (the one-shot query path)."""
    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    if terms is not None:
        base = base.filter(F.col("term").isin(*terms))
    return base.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))


def corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(N, avgdl) — one tiny aggregate, two scalars collected. At 100 TB
    these are maintained table statistics; recomputing is one scan of the
    token-count column only (column pruning keeps it narrow)."""
    row = docs.select(F.size(tokens(F.lower(F.col(text_col)))).alias("dl")).agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    return int(row["n"]), float(row["avgdl"] or 0.0)


def _term_score(n_docs: int, avgdl: float, k1: float, b: float):
    """The per-(doc, term) BM25 contribution as a Column expression
    over ``tf``/``df``/``dl`` — the ONE place the formula lives (the
    one-shot and persisted-index paths both score with it through
    _score, which is what keeps their tested equivalence honest)."""
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(max(avgdl, 1e-9)))
    return idf * F.col("tf") * (k1 + 1.0) / denom


def _empty_result(spark, id_field) -> DataFrame:
    """Schema-faithful empty result: the id column keeps the corpus id
    type (a blank query must not change the output schema)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            id_field,
            StructField("bm25", DoubleType()),
            StructField("n_terms_matched", LongType()),
        ]
    )
    return spark.createDataFrame([], schema)


def _score(post: DataFrame, df_tbl: DataFrame, n_docs: int, avgdl: float,
           id_col: str, k: int, k1: float, b: float,
           max_df_ratio: float | None = None, min_match: int = 1) -> DataFrame:
    """Join per-term df onto postings, score, sum per doc, global top-k
    (TakeOrdered — k is small). df side is tiny (≤ |query terms| rows)
    and broadcast.

    ``max_df_ratio`` drops query terms matching more than that fraction
    of the corpus BEFORE the postings join — the stopword guard that
    matters at index scale, where 'the' alone is a posting list the
    size of the corpus; because the df side is the broadcast build
    side, pruning it prunes the big probe side for free. ``min_match``
    keeps only docs matching at least that many (surviving) query
    terms — the Lucene minimum_should_match knob."""
    if max_df_ratio is not None:
        df_tbl = df_tbl.filter(F.col("df") <= float(max_df_ratio) * n_docs)
    term_score = _term_score(n_docs, avgdl, k1, b)
    scored = (
        post.join(F.broadcast(df_tbl), "term")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(term_score), 6).alias("bm25"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    if min_match > 1:
        scored = scored.filter(F.col("n_terms_matched") >= min_match)
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = _K1_DEFAULT,
    b: float = _B_DEFAULT,
    max_df_ratio: float | None = None,
    min_match: int = 1,
) -> DataFrame:
    """One-shot BM25 top-k: (id, bm25, n_terms_matched), best first,
    id-ascending tie-break. Two scans of ``docs`` (stats + postings),
    both filtered/pruned; everything after the explode carries only
    query-term postings. ``max_df_ratio``/``min_match`` per _score."""
    terms = query_terms(query)
    if not terms:
        return _empty_result(docs.sparkSession, docs.schema[id_col])
    n_docs, avgdl = corpus_stats(docs, text_col)
    post = postings(docs, text_col, id_col, terms=terms)
    df_tbl = post.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    return _score(post, df_tbl, n_docs, avgdl, id_col, k, k1, b,
                  max_df_ratio=max_df_ratio, min_match=min_match)


def _fs(spark, path: str):
    """(jvm, fs, Path-class) for ``path`` — all index bookkeeping goes
    through the Hadoop FileSystem API so file://, hdfs:// and s3a://
    layouts behave identically (the round-4 layout lesson)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path_cls = getattr(jvm, "org.apache.hadoop.fs.Path")
    return jvm, path_cls(path).getFileSystem(conf), path_cls


def _all_committed(spark, path: str) -> dict[int, tuple[str, str]]:
    """{batch_number: (kind, ref)} from ``{path}/_commits``. Markers
    carry their KIND ('post' for build/append postings, 'del' for
    tombstone batches) on the first line — postings and tombstones
    share one batch-number ordering (the batch-scoped mask needs it)
    but commit INDEPENDENTLY, so a marker of one kind can never
    retroactively commit torn data of the other. Markers without a
    kind line (pre-kind indexes) read as 'post'."""
    jvm, fs, P = _fs(spark, path)
    commits = P(f"{path}/_commits")
    out: dict[int, tuple[str, str]] = {}
    if fs.exists(commits):
        for st in fs.listStatus(commits):
            name = st.getPath().getName()
            if name.isdigit():
                stream = fs.open(st.getPath())
                try:
                    content = bytes(stream.readAllBytes()).decode()
                finally:
                    stream.close()
                kind, _, ref = content.partition("\n")
                if not ref and kind not in ("post", "del"):
                    kind, ref = "post", content
                out[int(name)] = (kind, ref)
    return out


def committed_batches(spark, path: str, kind: str = "post") -> dict[int, str]:
    """{batch_number: idempotency_ref} of the committed batches of one
    KIND (default: postings batches — what search/meta read)."""
    return {b: ref for b, (k, ref) in _all_committed(spark, path).items() if k == kind}


def _commit(spark, path: str, b: int, ref: str, kind: str = "post") -> None:
    """Marker write is create-temp-then-rename so the marker is either
    fully present (with its kind + ref) or absent — never an empty
    file that would silently defeat batch_ref idempotency."""
    jvm, fs, P = _fs(spark, path)
    tmp = P(f"{path}/_commits/.{b}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(f"{kind}\n{ref}".encode()))
    finally:
        out.close()
    fs.rename(tmp, P(f"{path}/_commits/{b}"))


def historical_refs(spark, path: str) -> set[str]:
    """Idempotency refs of batches folded away by compaction
    (``{path}/_refs/<hex(ref)>`` empty markers) — append checks these
    too, so replays of pre-compaction batches stay no-ops."""
    jvm, fs, P = _fs(spark, path)
    refs_dir = P(f"{path}/_refs")
    out: set[str] = set()
    if fs.exists(refs_dir):
        for st in fs.listStatus(refs_dir):
            try:
                out.add(bytes.fromhex(st.getPath().getName()).decode())
            except ValueError:
                continue
    return out


def _record_historical_ref(spark, path: str, ref: str) -> None:
    jvm, fs, P = _fs(spark, path)
    fs.create(P(f"{path}/_refs/{ref.encode().hex()}"), True).close()


def _swap_in(spark, tmp: str, path: str) -> None:
    """Two renames: live → .old, staged → live, delete .old. A reader
    racing the swap sees old, new, or — in the brief window between the
    renames — a clear 'no committed batches' error to retry on; it
    never sees a MIX of old and new batches. On object stores the
    renames are copies: run rebuild/compact in a maintenance window
    there."""
    jvm, fs, P = _fs(spark, path)
    old = f"{path}.old"
    if fs.exists(P(old)):
        fs.delete(P(old), True)
    if fs.exists(P(path)):
        fs.rename(P(path), P(old))
    fs.rename(P(tmp), P(path))
    fs.delete(P(old), True)


def write_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    batch_ref: str = "build",
) -> None:
    """Persist the inverted index as COMMITTED BATCHES:
    ``{path}/postings/batch=N/tb=*`` (term-bucket-partitioned posting
    rows), ``{path}/df`` (per-term per-batch doc frequency, same
    layout), ``{path}/_meta`` (one (N, avgdl) row per batch) and
    ``{path}/_commits/N`` markers written LAST — search reads only
    committed batches, so a torn build/append is invisible. A REBUILD
    over an existing index stages beside it and swaps in (_swap_in),
    so a crashed rebuild leaves the old index serving. The
    repartition("tb") keeps each bucket dir to one file per batch (the
    small-files guard)."""
    spark = docs.sparkSession
    jvm, fs, P = _fs(spark, path)
    target = f"{path}.rebuilding" if fs.exists(P(path)) else path
    if target != path and fs.exists(P(target)):
        fs.delete(P(target), True)
    _write_batch(docs, target, text_col, id_col, n_buckets, b=1)
    _commit(spark, target, 1, batch_ref)
    if target != path:
        _swap_in(spark, target, path)


def bm25_index_append(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_ref: str | None = None,
) -> int:
    """Grow a persisted index by one batch of NEW documents (disjoint
    ids — upsert is a different operator). Everything in the index is
    additive, so an append writes O(batch) into its OWN ``batch=N``
    dirs and rewrites NOTHING: per-batch df rows sum at query time
    (term doc-frequencies over disjoint doc sets add) and per-batch
    _meta rows fold into exact global stats via a weighted mean.
    Search over build+appends is therefore byte-equal to a fresh build
    over the union — the same incremental contract as
    streaming/near_dup.PartitionedSignatureStore and
    quantize.ivf_pq_append.

    Exactly-once: pass ``batch_ref`` (any stable id — the streaming
    micro-batch id, an ingest ledger key) and a replay of an
    already-committed ref is a no-op; a replay of a TORN append (dirs
    written, no marker) reuses the same batch number and overwrites
    the torn dirs. Returns the batch number (existing one on a no-op
    replay)."""
    spark = docs.sparkSession
    committed = committed_batches(spark, path)
    if not committed:
        raise FileNotFoundError(
            f"no committed index under {path} — build with write_bm25_index "
            "first (a torn build leaves no committed batches and must be rebuilt)"
        )
    if batch_ref is not None:
        for b, ref in committed.items():
            if ref == batch_ref:
                return b
        if batch_ref in historical_refs(spark, path):
            return 0  # folded into a compacted batch; replay is a no-op
    meta = (
        spark.read.parquet(f"{path}/_meta")
        .filter(F.col("batch").isin(list(committed)))
        .first()
    )
    # next number comes from the SHARED ordering (postings + tombstone
    # batches) so kinds never collide on a batch number
    b = max(_all_committed(spark, path), default=0) + 1
    _write_batch(docs, path, text_col, id_col, int(meta["n_buckets"]), b=b)
    _commit(spark, path, b, batch_ref if batch_ref is not None else f"append-{b}")
    return b


def _committed_deletes(spark, path: str, blist: list[int], id_col: str):
    """(id, _del_max) across committed delete batches, or None. A
    tombstone only masks postings from EARLIER batches (batch <
    _del_max) — a document re-appended after its delete survives, the
    per-segment semantics CDC-driven updates rely on."""
    jvm, fs, P = _fs(spark, path)
    # blist is the COMMITTED delete-batch list: empty → no tombstones,
    # even if a torn (uncommitted) _deletes dir exists on disk
    if not blist or not fs.exists(P(f"{path}/_deletes")):
        return None
    d = spark.read.parquet(f"{path}/_deletes").filter(F.col("batch").isin(blist))
    return d.groupBy(id_col).agg(F.max("batch").alias("_del_max"))


def _mask_deleted(post: DataFrame, dels, id_col: str) -> DataFrame:
    """Apply the batch-scoped tombstone mask to a postings frame that
    still carries its ``batch`` column. The join is NOT forced to
    broadcast: tombstone sets are usually tiny (AQE broadcasts them at
    runtime) but can grow unbounded between compactions — forcing a
    broadcast would brick search exactly when a giant CDC purge most
    needs it."""
    if dels is None:
        return post
    return (
        post.join(dels, id_col, "left")
        .filter(F.col("_del_max").isNull() | (F.col("batch") > F.col("_del_max")))
        .drop("_del_max")
    )


def bm25_index_delete(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "doc_id",
    batch_ref: str | None = None,
) -> int:
    """Delete documents from the index WITHOUT touching posting files —
    the Lucene model: a committed tombstone batch
    (``{path}/_deletes/batch=N``) masks the ids at search time, and the
    next ``bm25_index_compact`` purges their postings physically and
    renormalizes the stats. Until that compaction, deleted docs still
    count in N/avgdl/df (exactly Lucene's deleted-docs-affect-stats
    behavior). ``ids`` is a list or a 1-column DataFrame; either way
    the tombstone column is written with the POSTINGS' id type (a
    hardcoded string tombstone against bigint doc ids would make the
    mask join coerce both sides to double — ids above 2^53 could
    mis-mask, and the _deletes table would disagree with the index
    schema); a DataFrame whose id type disagrees is rejected loudly.
    Same ``batch_ref`` exactly-once contract as append. Tombstone batches
    commit under their own kind ('del') so a delete marker can never
    retroactively commit a torn append's postings (or vice versa);
    batch numbers still come from the shared ordering the mask
    compares against."""
    everything = _all_committed(spark, path)
    if not committed_batches(spark, path):
        raise FileNotFoundError(f"no committed index under {path}")
    if batch_ref is not None:
        del_refs = {ref for k, ref in everything.values() if k == "del"}
        if batch_ref in del_refs or batch_ref in historical_refs(spark, path):
            return 0
    id_type = spark.read.parquet(f"{path}/postings").schema[id_col].dataType
    if isinstance(ids, list):
        from pyspark.sql import types as T

        ids = spark.createDataFrame(
            [(i,) for i in ids], T.StructType([T.StructField(id_col, id_type)])
        )
    elif ids.schema[id_col].dataType != id_type:
        # lossless integral widening (byte→short→int→long) is safe to
        # cast up-front; everything else could mis-mask (e.g. a
        # long-vs-int join coerces both sides, and string-vs-numeric
        # would silently match nothing)
        _widen = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
        got = ids.schema[id_col].dataType.simpleString()
        want = id_type.simpleString()
        if got in _widen and want in _widen and _widen[got] < _widen[want]:
            ids = ids.withColumn(id_col, F.col(id_col).cast(id_type))
        else:
            raise TypeError(
                f"ids.{id_col} is {got} but the "
                f"index postings store {want} — pass matching ids "
                "(an implicit coercion could mis-mask large numeric ids)"
            )
    # Pre-typed-tombstone indexes hold string delete batches; mixing a
    # differently-typed new batch under _deletes would leave
    # schema-inconsistent parquet that the single read in
    # _committed_deletes can mis-read. Detect and direct to compaction
    # (which purges _deletes entirely).
    existing_del = sorted(b for b, (k, _) in everything.items() if k == "del")
    if existing_del:
        prev_type = (
            spark.read.parquet(f"{path}/_deletes/batch={existing_del[-1]}")
            .schema[id_col]
            .dataType
        )
        if prev_type != id_type:
            raise ValueError(
                f"existing tombstone batches store {id_col} as "
                f"{prev_type.simpleString()} but this index's postings are "
                f"{id_type.simpleString()} — run bm25_index_compact(spark, path) "
                "first to purge the old-format tombstones, then retry the delete"
            )
    b = max(everything) + 1
    ids.select(id_col).distinct().coalesce(1).write.mode("overwrite").parquet(
        f"{path}/_deletes/batch={b}"
    )
    _commit(spark, path, b, batch_ref if batch_ref is not None else f"delete-{b}", kind="del")
    return b


def apply_changes_to_bm25_index(
    changes: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_ref: str | None = None,
) -> None:
    """Route a keyed change feed (``DeltaLogTable.changes`` /
    upsert.snapshot_changes: _change_type ∈ insert /
    update_postimage / delete) into the index: deletes AND updates
    tombstone the old ids first, then inserts AND updates append the
    new text — the append batch outnumbers the tombstone batch, so the
    batch-scoped mask hides only the OLD postings of an updated doc.
    With ``batch_ref`` both legs are exactly-once (refs ``{ref}-del`` /
    ``{ref}-add``); a crash between them replays safely. This is the
    incremental bridge from the versioned table to the search index —
    O(changes), never a rebuild."""
    spark = changes.sparkSession
    # the feed is a full-outer snapshot diff — pin it once instead of
    # re-running it for each isEmpty probe + each leg's write
    changes = changes.localCheckpoint(eager=False)
    dels = changes.filter(
        F.col("_change_type").isin("delete", "update_postimage")
    ).select(id_col)
    adds = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(id_col, text_col)
    if not dels.isEmpty():
        bm25_index_delete(
            spark, path, dels, id_col=id_col,
            batch_ref=f"{batch_ref}-del" if batch_ref is not None else None,
        )
    if not adds.isEmpty():
        bm25_index_append(
            adds, path, text_col=text_col, id_col=id_col,
            batch_ref=f"{batch_ref}-add" if batch_ref is not None else None,
        )


def bm25_index_compact(spark: SparkSession, path: str) -> int:
    """Fold all committed batches into ONE (the lifecycle's third verb:
    build → append* → compact when per-query df/meta fan-out or
    bucket-dir file counts grow into the thousands). Needs no document
    text: postings rows just move, per-term df rows sum, meta rows fold
    — the same additivity search exploits per query, applied once at
    rest. Tombstoned documents (bm25_index_delete) are purged
    physically here and the stats renormalized from the surviving
    postings (so post-compaction scores equal a fresh build over the
    survivors; the only shift is that token-LESS documents leave no
    postings and drop out of N — they can never match a query). The
    compacted index is written beside the live one and
    swapped in (_swap_in — a racing reader sees old, new, or a clear
    retryable error in the brief rename window, never a MIX); the
    folded batches' idempotency refs are preserved in ``_refs`` so
    at-least-once replays of pre-compaction batches stay no-ops.
    Without tombstones, committed search results are byte-identical
    before and after (tested). Returns the number of batches folded."""
    everything = _all_committed(spark, path)
    committed = {b: ref for b, (k, ref) in everything.items() if k == "post"}
    del_blist = [b for b, (k, _) in everything.items() if k == "del"]
    if len(committed) <= 1 and not del_blist:
        return len(committed)
    blist = list(committed)
    tmp = f"{path}.compacting"
    jvm, fs, P = _fs(spark, path)
    if fs.exists(P(tmp)):
        fs.delete(P(tmp), True)
    post = spark.read.parquet(f"{path}/postings").filter(F.col("batch").isin(blist))
    id_col = [c for c in post.columns if c not in ("dl", "term", "tf", "tb", "batch")][0]
    dels = _committed_deletes(spark, path, del_blist, id_col)
    post = _mask_deleted(post, dels, id_col).drop("batch")
    if dels is not None:
        # purge path reads the frame three times (postings + df +
        # stats) — pin it once; the fold path consumes it exactly once
        # and needs no pin
        post = post.localCheckpoint()
        if post.isEmpty():
            # every doc tombstoned: a partitioned write of zero rows
            # leaves only _SUCCESS and bricks schema inference on the
            # next search, so write a schema-bearing empty file into an
            # explicit tb=0 leaf — partition layout stays consistent
            # with future appends
            post.drop("tb").coalesce(1).write.parquet(
                f"{tmp}/postings/batch=1/tb=0"
            )
        else:
            post.repartition("tb").write.partitionBy("tb").parquet(
                f"{tmp}/postings/batch=1"
            )
    else:
        post.repartition("tb").write.partitionBy("tb").parquet(f"{tmp}/postings/batch=1")
    meta = spark.read.parquet(f"{path}/_meta").filter(F.col("batch").isin(blist)).collect()
    if dels is None:
        # pure fold: exact, including token-less documents
        (
            spark.read.parquet(f"{path}/df")
            .filter(F.col("batch").isin(blist))
            .groupBy("tb", "term")
            .agg(F.sum("df").alias("df"))
            .repartition("tb")
            .write.partitionBy("tb")
            .parquet(f"{tmp}/df/batch=1")
        )
        n_total = sum(int(r["n_docs"]) for r in meta)
        avgdl = (
            sum(int(r["n_docs"]) * float(r["avgdl"]) for r in meta) / n_total
            if n_total
            else 0.0
        )
    else:
        # purge path: recompute df and stats from surviving postings
        df_frame = post.groupBy("tb", "term").agg(F.count_distinct(id_col).alias("df"))
        if post.isEmpty():
            df_frame.drop("tb").coalesce(1).write.parquet(f"{tmp}/df/batch=1/tb=0")
        else:
            df_frame.repartition("tb").write.partitionBy("tb").parquet(
                f"{tmp}/df/batch=1"
            )
        stats = post.select(id_col, "dl").distinct().agg(
            F.count("*").alias("n"), F.avg("dl").alias("a")
        ).first()
        n_total = int(stats["n"])
        avgdl = float(stats["a"] or 0.0)
    spark.createDataFrame(
        [(n_total, avgdl, int(meta[0]["n_buckets"]))],
        "n_docs long, avgdl double, n_buckets int",
    ).coalesce(1).write.parquet(f"{tmp}/_meta/batch=1")
    _commit(spark, tmp, 1, f"compact-{len(blist)}")
    # preserve every folded ref — BOTH kinds — and refs from earlier
    # compactions, so append/delete idempotency survives compaction
    for ref in {r for _, r in everything.values()} | historical_refs(spark, path):
        _record_historical_ref(spark, tmp, ref)
    _swap_in(spark, tmp, path)
    return len(blist) + len(del_blist)


def _write_batch(
    docs: DataFrame, path: str, text_col: str, id_col: str, n_buckets: int, b: int
) -> None:
    post = (
        postings(docs, text_col, id_col)
        .withColumn("tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        .localCheckpoint()  # computed once; reused by the postings write AND the df agg
    )
    post.repartition("tb").write.mode("overwrite").partitionBy("tb").parquet(
        f"{path}/postings/batch={b}"
    )
    (
        post.groupBy("tb", "term")
        .agg(F.count_distinct(id_col).alias("df"))
        .repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(f"{path}/df/batch={b}")
    )
    n_docs, avgdl = corpus_stats(docs, text_col)
    docs.sparkSession.createDataFrame(
        [(n_docs, avgdl, n_buckets)], "n_docs long, avgdl double, n_buckets int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta/batch={b}")


def bm25_search(
    spark: SparkSession,
    path: str,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = _K1_DEFAULT,
    b: float = _B_DEFAULT,
    max_df_ratio: float | None = None,
    min_match: int = 1,
) -> DataFrame:
    """Serve BM25 top-k from a persisted index. Reads at most
    |query-terms| bucket directories (PartitionFilters on ``tb``) with
    the ``term IN (...)`` predicate pushed into the parquet scan —
    corpus size never enters the query cost, only posting-list length
    does. ``max_df_ratio`` is the posting-list-length guard for exactly
    that residual cost (see _score). Same result contract as
    ``bm25_topk``."""
    terms = query_terms(query)
    if not terms:
        return _empty_result(
            spark, spark.read.parquet(f"{path}/postings").schema[id_col]
        )
    # _meta holds one row per COMMITTED build/append batch; fold them
    # into exact global stats (counts add, avgdl is the doc-count-
    # weighted mean). Uncommitted (torn) batches are invisible.
    blist = list(committed_batches(spark, path))
    if not blist:
        raise FileNotFoundError(
            f"no committed batches under {path} — the index is unbuilt, torn, "
            "or mid-swap (rebuild/compact); retry or rebuild"
        )
    meta_rows = (
        spark.read.parquet(f"{path}/_meta").filter(F.col("batch").isin(blist)).collect()
    )
    n_buckets = int(meta_rows[0]["n_buckets"])
    n_total = sum(int(r["n_docs"]) for r in meta_rows)
    avgdl_total = (
        sum(int(r["n_docs"]) * float(r["avgdl"]) for r in meta_rows) / n_total
        if n_total
        else 0.0
    )
    # Bucket ids computed with the SAME expression as the writer, on a
    # |terms|-row local frame — bounded driver work.
    tb_rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("tb"))
        .distinct()
        .collect()
    )
    buckets = [int(r["tb"]) for r in tb_rows]
    post = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("batch").isin(blist))
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*terms))
    )
    # tombstone mask (Lucene-style): deleted docs vanish from results
    # now, from the stats at the next compaction; batch-scoped so a
    # re-appended doc survives its earlier delete
    del_blist = list(committed_batches(spark, path, kind="del"))
    post = _mask_deleted(post, _committed_deletes(spark, path, del_blist, id_col), id_col)
    df_tbl = (
        spark.read.parquet(f"{path}/df")
        .filter(F.col("batch").isin(blist))
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))  # per-batch rows sum (disjoint doc sets)
    )
    return _score(post, df_tbl, n_total, avgdl_total, id_col, k, k1, b,
                  max_df_ratio=max_df_ratio, min_match=min_match)
