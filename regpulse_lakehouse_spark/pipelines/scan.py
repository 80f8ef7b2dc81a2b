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

Building the plan costs Python time too: every literal and operator of a
Column tree is one py4j round trip, and the scan's trees (URL
canonicalization, window, tier map, extractor, normalize, validate,
route, link and summary projections) took ~4,800 of them per batch.
None of them depends on the batch, so :class:`_ScanProgram` builds them
once per SparkContext and (days_window, tier map) and every later
batch only applies them. A warm ``run_scan`` makes 200-400 round
trips (py4j's garbage-collection messages vary); only the run id
literal and ``max_results`` are new. The memo is cleared by
``regpulse_lakehouse_spark.cleanup()``.

The only Python stage is the pluggable extractor (and only in its
``mapInPandas`` flavor); everything else is columnar work in the JVM.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .. import tmpstate
from ..functions import urls
from ..functions.normalize import normalize_columns
from ..operators.validate import route_columns, route_filters, validation_columns
from .extract import ColumnExtractor, Extractor

#: trust tier per connector profile when the caller passes none
_DEFAULT_TIERS = {
    "profile_0": "TIER_A_BINDING",
    "profile_1": "TIER_B_OFFICIAL",
    "profile_2": "TIER_C_MEDIA",
}
_LINK_COLS = ["from_type", "from_id", "to_type", "to_id", "relation"]


@dataclass
class ScanResult:
    """The scan run's output tables: projections over the batch's
    materialized ``docs`` and routed items."""

    documents: DataFrame  # deduped, windowed, policy-annotated candidates
    main_items: DataFrame  # validated TIER_A items → upsert into main
    review_items: DataFrame  # everything else → review_queue payloads
    links: DataFrame  # G5 lineage edges (run→doc, run→item, doc→item)
    summary: DataFrame  # A5 one-row rollup


def _first_wins_columns() -> tuple[Column, Column, Column]:
    """(canonical URL, arrival rank within it, keep-first predicate)."""
    w = W.partitionBy("canonical_url").orderBy(F.asc("arrival_seq"))
    return urls.canonicalize_url(F.col("url")), F.row_number().over(w), F.col("_rn") == 1


def _dedupe(candidates: DataFrame, canon: Column, rank: Column, first: Column) -> DataFrame:
    return (
        candidates.withColumn("canonical_url", canon)
        .withColumn("_rn", rank)
        .filter(first)
        .drop("_rn")
    )


def dedupe_first_wins_by_url(candidates: DataFrame) -> DataFrame:
    """W1 (scan.ts:312-321): first candidate per canonical URL in
    explicit arrival order — Spark unions don't preserve order, so
    ``arrival_seq`` must come from the source union."""
    return _dedupe(candidates, *_first_wins_columns())


def _date_window(days: int) -> Column:
    # current_date() is bound when a plan is optimized, not here, so a
    # memoized predicate still reads the day of each batch
    cutoff = F.date_sub(F.current_date(), days)
    return F.col("published_date").isNull() | (F.col("published_date") >= cutoff)


def filter_date_window(candidates: DataFrame, days: int) -> DataFrame:
    """F4 (scan.ts:420-429): null/unparsable published dates PASS."""
    return candidates.filter(_date_window(days))


def _link(from_type: str, from_id: Column | None, to_type: str, to_id: str, relation: str):
    """One G5 edge projection; ``from_id`` None is the run id's slot."""
    return [
        F.lit(from_type).alias("from_type"),
        from_id,
        F.lit(to_type).alias("to_type"),
        F.col(to_id).alias("to_id"),
        F.lit(relation).alias("relation"),
    ]


class _ScanProgram:
    """Every constant Column ``run_scan`` applies, built once per
    (SparkContext, days_window, tier map) and reused on every batch:
    the trees are unresolved, so they bind to each batch's plan when it
    is analyzed."""

    def __init__(self, days_window: int, tier_map: dict[str, str]):
        self.first_wins = _first_wins_columns()
        self.in_window = _date_window(days_window)
        self.arrival = F.col("arrival_seq")
        self.trust_tier = F.coalesce(
            *[
                F.when(F.col("source_profile_id") == pid, F.lit(tier))
                for pid, tier in tier_map.items()
            ],
            F.lit("TIER_D_QUARANTINE"),  # F9 default (policy.ts:163-170)
        )
        self.extract = ColumnExtractor().columns()
        self.doc_side = [
            F.col("id").alias("source_document_id"),
            F.col("trust_tier"),
            F.col("published_date"),
            F.col("retrieved_at"),
        ]
        self.item = {
            "source_org": F.lit("Unknown"),
            "source_type": F.lit("guidance"),
            "status": F.lit("proposed"),
            "impacted_areas": F.array().cast("array<string>"),
            "evidence": F.struct(
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
        }
        self.normalize = normalize_columns()
        self.validate = validation_columns()
        self.route = route_columns()
        self.splits = is_main, is_review = route_filters()
        self.has_source = F.col("source_document_id").isNotNull()
        # G5 link derivation (jobs/scan.ts:107-167): per-relation projections
        self.links = {
            "produced_docs": _link("Run", None, "SourceDocument", "id", "produced"),
            "produced_items": _link("Run", None, "RegulationItem", "id", "produced"),
            "extracted_from": _link(
                "SourceDocument",
                F.col("source_document_id").alias("from_id"),
                "RegulationItem",
                "id",
                "extracted_from",
            ),
            "queued": _link("Run", None, "RegulationItem", "id", "queued_for_review"),
        }
        # A5 run-summary rollup (jobs/scan.ts:82-94)
        self.summary = [
            F.count(F.lit(1)).alias("discovered"),
            F.sum(F.when(is_main, 1).otherwise(0)).alias("accepted"),
            F.sum(F.when(is_review, 1).otherwise(0)).alias("review"),
        ]


#: run_scan's programs per SparkContext (weak: a stopped context's
#: Columns die with it), then per (days_window, tier map items); cleared
#: with the other py4j-holding caches on ``tmpstate.cleanup()``
_PROGRAMS: "weakref.WeakKeyDictionary[SparkContext, dict]" = weakref.WeakKeyDictionary()

tmpstate.on_cleanup(_PROGRAMS.clear)


def _program(sc: SparkContext, days_window: int, tier_map: dict[str, str]) -> _ScanProgram:
    per = _PROGRAMS.setdefault(sc, {})
    key = (days_window, tuple(tier_map.items()))
    prog = per.get(key)
    if prog is None:
        prog = per[key] = _ScanProgram(days_window, tier_map)
    return prog


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
    once: the returned tables no longer depend on them. The column
    programs come from the session's memo; only the run id literal and
    ``max_results`` are new per batch, and an extractor other than a
    plain :class:`ColumnExtractor` is called on every batch."""
    prog = _program(
        candidates.sparkSession.sparkContext,
        days_window,
        tier_for_profile or _DEFAULT_TIERS,
    )
    docs = (
        _dedupe(candidates, *prog.first_wins)
        .filter(prog.in_window)
        .orderBy(prog.arrival)
        .limit(max_results)  # T5 candidate cap in arrival order (scan.ts:111)
        .withColumn("trust_tier", prog.trust_tier)
        .localCheckpoint(eager=True)
    )
    if extractor is None or type(extractor) is ColumnExtractor:
        extracted = docs.select(prog.extract)
    else:
        extracted = extractor.extract(docs)
    items = extracted.join(docs.select(prog.doc_side), "source_document_id").withColumns(
        prog.item
    )
    routed = (
        items.withColumns(prog.normalize)
        .withColumns(prog.validate)
        .withColumns(prog.route)
        .localCheckpoint(eager=True)
    )
    main_items, review_items = (routed.filter(p) for p in prog.splits)

    run_lit = F.lit(run_id)
    run_from = run_lit.alias("from_id")

    def edges(df: DataFrame, name: str) -> DataFrame:
        return df.select([run_from if c is None else c for c in prog.links[name]])

    links = (
        edges(docs, "produced_docs")
        .unionByName(edges(main_items, "produced_items"))
        .unionByName(edges(main_items.filter(prog.has_source), "extracted_from"))
        .unionByName(edges(review_items, "queued"))
        .dropDuplicates(_LINK_COLS)
    )
    # one aggregated row from the routed plan, not collected branch counts
    summary = routed.agg(*prog.summary).withColumn("run_id", run_lit)

    return ScanResult(
        documents=docs,
        main_items=main_items,
        review_items=review_items,
        links=links,
        summary=summary,
    )
