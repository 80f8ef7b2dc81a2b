"""Extraction stage — SURVEY.md §2.12 X1 behind a deterministic
interface.

The reference extracts a RegulationItem per candidate document with a
strict-JSON-schema LLM call (services/api/src/services/scan.ts:170-298,
enums injected from the ontology, 1200-token cap). The rebuild keeps
that as a *pluggable stage* with two implementations:

- :class:`ColumnExtractor` — pure column expressions (keyword topic
  tagging, hash-derived confidence). The default and test path: fully
  deterministic, stays in codegen, zero Python in the hot loop; its
  projection is built once per session by ``pipelines.scan.run_scan``.
- :class:`PandasExtractor` — the production *shape*: ``mapInPandas``
  over Arrow batches, where a real implementation would call a model
  endpoint per batch. Ships with a deterministic body so the plumbing
  (schema, batch iteration, column contract) is tested for real; a
  model-backed subclass only overrides ``_extract_batch``.

Both emit the same output contract: the regulation_items shape of
schemas.REGULATION_ITEMS minus write-side columns.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Protocol

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F, types as T

from ..functions.normalize import normalize_priority
from ..ontology import TOPICS

# Topic keyword → ontology topic used by the deterministic extractors.
_TOPIC_KEYWORDS = {
    "cyber": "cybersecurity",
    "software": "software_updates",
    "emission": "emissions",
    "battery": "batteries",
    "autonom": "automated_driving",
    "data": "data_privacy",
}

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("source_document_id", T.StringType(), False),
        T.StructField("jurisdiction", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("summary_1line", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("topics", T.ArrayType(T.StringType()), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("priority", T.StringType(), True),
    ]
)


class Extractor(Protocol):
    def extract(self, documents: DataFrame) -> DataFrame: ...


class ColumnExtractor:
    """Deterministic pure-Spark extraction: everything derivable from
    the document columns via expressions (no Python, no higher-order
    function, so the projection stays in whole-stage codegen).
    :meth:`columns` builds the projection with no DataFrame bound, so a
    caller that extracts every batch (``pipelines.scan.run_scan``) builds
    it once; :meth:`extract` applies it as one ``select``."""

    def columns(self) -> list[Column]:
        """The output contract (:data:`EXTRACT_SCHEMA`) as named
        Columns over the source_documents shape."""
        content = F.coalesce(F.col("content"), F.lit(""))
        lowered = F.lower(content)
        topic_hits = F.array(
            *[
                F.when(F.instr(lowered, kw) > 0, F.lit(topic))
                for kw, topic in _TOPIC_KEYWORDS.items()
            ]
        )
        # the closed TOPICS array holds no null, so the intersection
        # drops the misses (and keeps the keyword order)
        topics = F.array_intersect(topic_hits, F.array(*[F.lit(t) for t in TOPICS]))
        # hash-derived confidence in [0.5, 1.0) — deterministic per doc
        conf = (
            F.conv(F.substring(F.md5(F.col("id")), 1, 4), 16, 10).cast("double")
            / F.lit(65536.0)
            / 2
            + 0.5
        )
        return [
            F.concat(F.lit("item-of-"), F.col("id")).alias("id"),
            F.col("id").alias("source_document_id"),
            F.lit("EU").alias("jurisdiction"),
            F.coalesce(F.col("title"), F.lit("Untitled")).alias("title"),
            F.substring(content, 1, 400).alias("summary_1line"),
            F.col("url"),
            topics.alias("topics"),
            F.round(conf, 4).alias("confidence"),
            normalize_priority(
                F.when(F.instr(lowered, "urgent") > 0, F.lit("urgent")).otherwise(
                    F.lit("medium")
                )
            ).alias("priority"),
        ]

    def extract(self, documents: DataFrame) -> DataFrame:
        return documents.select(self.columns())


class PandasExtractor:
    """`mapInPandas` extraction — the stage shape a model-backed
    extractor uses (Arrow batches in/out; override ``_extract_batch``
    to call a real endpoint). The default body is deterministic so the
    plumbing itself is under test."""

    batch_hint = 64  # spark.sql.execution.arrow.maxRecordsPerBatch-style sizing

    def _extract_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        def conf(doc_id: str) -> float:
            return round(int(hashlib.md5(doc_id.encode()).hexdigest()[:4], 16) / 65536 / 2 + 0.5, 4)

        content = pdf["content"].fillna("")
        return pd.DataFrame(
            {
                "id": "item-of-" + pdf["id"],
                "source_document_id": pdf["id"],
                "jurisdiction": "EU",
                "title": pdf["title"].fillna("Untitled"),
                "summary_1line": content.str.slice(0, 400),
                "url": pdf["url"],
                "topics": [
                    [t for kw, t in _TOPIC_KEYWORDS.items() if kw in c.lower()]
                    for c in content
                ],
                "confidence": [conf(d) for d in pdf["id"]],
                "priority": [
                    "P0" if "urgent" in c.lower() else "P2" for c in content
                ],
            }
        )

    def extract(self, documents: DataFrame) -> DataFrame:
        extract_batch = self._extract_batch

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf):
                    yield extract_batch(pdf)

        cols = ["id", "url", "title", "content"]
        return documents.select(*cols).mapInPandas(gen, schema=EXTRACT_SCHEMA)
