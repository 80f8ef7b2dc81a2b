"""Scan pipeline — SURVEY.md §3.1 re-architected as one DataFrame DAG,
evaluated once per batch.

Reference flow (jobs/scan.ts:18-105 + services/scan.ts:41-168):
connector candidates ∪ web_search → dedupeByUrl (first-wins) →
date-window filter → cap → canonicalize/policy-evaluate → LLM-extract →
validate → tier-route → {upsert main, append review} → lineage links →
run summary. Stages 3-5 were sequential row loops across process
boundaries; here they are a single DataFrame DAG per run:

  candidates → W1 window dedup (explicit arrival_seq) → F4 filter →
  T5 limit → F1/F9 policy columns → extractor → V3 normalize →
  V1/V2 validate+route → split → G5 link projections → A5 summary

The windowed, capped ``docs`` and the ``routed`` items are materialized
once (``localCheckpoint(eager=True)``) inside :func:`run_scan`, so every
output table is a projection over in-memory rows. Left lazy, each
consumer — the main upsert, the review append, the links insert, the
summary, and every extra pass those writers make (merge-key bounds,
touched-file probe, anti-join) — re-planned and re-ran the whole
chain from the candidates scan; the links union alone scanned and
window-deduped the candidates seven times (once per ``docs`` leaf of its
four branches). Materializing also pins one answer per batch: the
extractor runs once, and the date window reads ``current_date()``
once.

The only Python stage is the pluggable extractor (and only in its
``mapInPandas`` flavor); everything else is codegen'd columnar work.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import urls
from ..functions.normalize import normalize_items
from ..operators.validate import split_routes, with_route, with_validation
from .extract import ColumnExtractor, Extractor


@dataclass
class ScanResult:
    """The scan run's output tables: projections over the batch's
    materialized ``docs`` and routed items."""

    documents: DataFrame  # deduped, windowed, policy-annotated candidates
    main_items: DataFrame  # validated TIER_A items → upsert into main
    review_items: DataFrame  # everything else → review_queue payloads
    links: DataFrame  # G5 lineage edges (run→doc, run→item, doc→item)
    summary: DataFrame  # A5 one-row rollup


def dedupe_first_wins_by_url(candidates: DataFrame) -> DataFrame:
    """W1 (scan.ts:312-321): first candidate per canonical URL in
    explicit arrival order — Spark unions don't preserve order, so
    ``arrival_seq`` must come from the source union."""
    canon = urls.canonicalize_url(F.col("url"))
    w = W.partitionBy("canonical_url").orderBy(F.asc("arrival_seq"))
    return (
        candidates.withColumn("canonical_url", canon)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def filter_date_window(candidates: DataFrame, days: int) -> DataFrame:
    """F4 (scan.ts:420-429): null/unparsable published dates PASS."""
    cutoff = F.date_sub(F.current_date(), days)
    return candidates.filter(
        F.col("published_date").isNull() | (F.col("published_date") >= cutoff)
    )


def run_scan(
    candidates: DataFrame,
    run_id: str,
    days_window: int = 90,
    max_results: int = 1000,
    extractor: Extractor | None = None,
    tier_for_profile: dict[str, str] | None = None,
) -> ScanResult:
    """Run the scan DAG over one batch. ``candidates`` carries the
    source_documents shape (schemas.SOURCE_DOCUMENTS) with arrival_seq
    already synthesized at union time. The candidates are read here,
    once: the returned tables no longer depend on them."""
    extractor = extractor or ColumnExtractor()
    tier_map = tier_for_profile or {
        "profile_0": "TIER_A_BINDING",
        "profile_1": "TIER_B_OFFICIAL",
        "profile_2": "TIER_C_MEDIA",
    }

    docs = (
        dedupe_first_wins_by_url(candidates)
        .transform(lambda df: filter_date_window(df, days_window))
        .orderBy("arrival_seq")
        .limit(max_results)  # T5 candidate cap in arrival order (scan.ts:111)
    )
    tier_expr = F.coalesce(
        *[
            F.when(F.col("source_profile_id") == pid, F.lit(tier))
            for pid, tier in tier_map.items()
        ],
        F.lit("TIER_D_QUARANTINE"),  # F9 default (policy.ts:163-170)
    )
    docs = docs.withColumn("trust_tier", tier_expr).localCheckpoint(eager=True)

    extracted = extractor.extract(docs)
    items = (
        extracted.join(
            docs.select(
                F.col("id").alias("source_document_id"),
                F.col("trust_tier"),
                F.col("published_date"),
                F.col("retrieved_at"),
            ),
            "source_document_id",
        )
        .withColumn("source_org", F.lit("Unknown"))
        .withColumn("source_type", F.lit("guidance"))
        .withColumn("status", F.lit("proposed"))
        .withColumn("impacted_areas", F.array().cast("array<string>"))
        .withColumn(
            "evidence",
            F.struct(
                F.lit(None).cast("string").alias("raw_file_uri"),
                F.lit(None).cast("string").alias("text_snapshot_uri"),
                F.array(
                    F.struct(
                        F.col("title").alias("title"),
                        F.col("url").alias("url"),
                        F.substring(F.col("summary_1line"), 1, 300).alias("snippet"),
                    )
                ).alias("citations"),
            ),
        )
    )
    routed = with_route(with_validation(normalize_items(items))).localCheckpoint(
        eager=True
    )
    main_items, review_items = split_routes(routed)

    # G5 link derivation (jobs/scan.ts:107-167): per-relation projections.
    run_lit = F.lit(run_id)
    link_cols = ["from_type", "from_id", "to_type", "to_id", "relation"]
    produced_docs = docs.select(
        F.lit("Run").alias("from_type"),
        run_lit.alias("from_id"),
        F.lit("SourceDocument").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("produced").alias("relation"),
    )
    produced_items = main_items.select(
        F.lit("Run").alias("from_type"),
        run_lit.alias("from_id"),
        F.lit("RegulationItem").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("produced").alias("relation"),
    )
    extracted_from = main_items.filter(F.col("source_document_id").isNotNull()).select(
        F.lit("SourceDocument").alias("from_type"),
        F.col("source_document_id").alias("from_id"),
        F.lit("RegulationItem").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("extracted_from").alias("relation"),
    )
    queued = review_items.select(
        F.lit("Run").alias("from_type"),
        run_lit.alias("from_id"),
        F.lit("RegulationItem").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("queued_for_review").alias("relation"),
    )
    links = (
        produced_docs.unionByName(produced_items)
        .unionByName(extracted_from)
        .unionByName(queued)
        .dropDuplicates(link_cols)
    )

    # A5 run-summary rollup (jobs/scan.ts:82-94) — one aggregated row
    # from the routed plan, not collected branch counts.
    summary = routed.agg(
        F.count(F.lit(1)).alias("discovered"),
        F.sum(F.when(F.col("route") == "main", 1).otherwise(0)).alias("accepted"),
        F.sum(F.when(F.col("route") == "review_queue", 1).otherwise(0)).alias("review"),
    ).withColumn("run_id", F.lit(run_id))

    return ScanResult(
        documents=docs,
        main_items=main_items,
        review_items=review_items,
        links=links,
        summary=summary,
    )
