"""Deterministic domain-shaped fixtures — FIXTURES.md made real.

Seeded generators for the 12-table catalog, guaranteeing the FIXTURES.md
edge-case checklist:

1. duplicate URLs with distinct arrival_seq (W1 first-wins dedup)
2. re-ingested ids with newer _ingest_ts (W2/S4 upsert)
3. null + unparsable published_date (F4 pass-through)
4. all four V1 reject reasons reachable (empty citations, low
   confidence, disallowed domain, out-of-enum fields)
5. tier matrix {A, non-A, null} × {valid, invalid} (V2 routing)
6. link 5-tuple duplicates and dangling endpoints (S6, J5)
7. ordered-output ties with id tie-breakers (T1-T6 determinism)

Used by the golden pipeline tests (SURVEY.md §5.2) — the driver's
TPC-H-ish tables back the generic oracle checks; these back the
domain-pipeline goldens.
"""

from __future__ import annotations

import datetime as dt
import json
import random

from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from ..ontology import (
    IMPACTED_AREAS,
    JURISDICTIONS,
    MONITORING_STAGES,
    PRIORITIES,
    SOURCE_TYPES,
    STATUSES,
    TOPICS,
    TRUST_TIERS,
)

EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

ALLOWED_FIXTURE_DOMAINS = (
    "eur-lex.europa.eu",
    "unece.org",
    "nhtsa.gov",
    "example.com",
)
UNKNOWN_DOMAINS = ("sketchy.biz", "random-blog.net")


def _ts(seconds: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


def documents(spark: SparkSession, n: int = 60, seed: int = 7) -> DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        dup = i % 10 == 3  # ~10% exact URL duplicates of the previous doc
        base = i - 1 if dup and i > 0 else i
        domain = (
            UNKNOWN_DOMAINS[base % len(UNKNOWN_DOMAINS)]
            if base % 9 == 0
            else ALLOWED_FIXTURE_DOMAINS[base % len(ALLOWED_FIXTURE_DOMAINS)]
        )
        url = f"https://{domain}/doc/{base}"
        if base % 7 == 1:
            url += "/?utm_source=feed&utm_medium=rss"
        elif base % 7 == 2:
            url += "/"
        published = (
            None
            if i % 5 == 0
            else (EPOCH - dt.timedelta(days=rng.randint(0, 200))).date()
        )
        rows.append(
            (
                f"doc-{i:04d}",
                url,
                domain,
                None if i % 20 == 4 else f"Document {i}",
                ("regulatory text " * rng.randint(1, 300))[:5000],
                _ts(i),
                published,
                f"h{i:08x}",
                {"connector": f"profile_{base % 3}"},
                i,  # arrival_seq: explicit cross-source arrival order
                f"profile_{base % 3}",
            )
        )
    return spark.createDataFrame(rows, schemas.SOURCE_DOCUMENTS)


def _evidence(rng: random.Random, empty: bool) -> tuple:
    citations = (
        []
        if empty
        else [
            (f"Citation {j}", f"https://eur-lex.europa.eu/cite/{j}", "snippet " * 5)
            for j in range(rng.randint(1, 3))
        ]
    )
    return ("s3://raw/x", "s3://snap/x", citations)


def regulation_items(spark: SparkSession, n: int = 80, seed: int = 11) -> DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        re_ingest = i % 10 == 7  # same id re-appears with newer _ingest_ts
        item_id = f"item-{(i - 1 if re_ingest else i):04d}"
        conf = [0.3, 0.6, 0.75, 0.95][i % 4]  # mass in all four strata
        tier = (None, *TRUST_TIERS)[i % 5]
        topics = list(rng.sample(TOPICS, rng.randint(0, 4)))
        if i % 10 == 5:
            topics.append("not_a_topic")  # out-of-enum junk (V3 whitelist)
        rows.append(
            (
                item_id,
                JURISDICTIONS[0] if i % 3 else JURISDICTIONS[i % len(JURISDICTIONS)],
                "European Commission" if i % 2 else "Unknown",
                SOURCE_TYPES[i % len(SOURCE_TYPES)] if i % 15 != 6 else "junk_type",
                f"Item {item_id} rev{i}",
                ("One-line summary. " * 40)[: 500 if i % 12 == 9 else 200],
                (
                    f"https://{UNKNOWN_DOMAINS[0]}/item/{i}"
                    if i % 11 == 8
                    else f"https://eur-lex.europa.eu/item/{i}"
                ),
                None if i % 6 == 2 else (EPOCH - dt.timedelta(days=i)).date(),
                None if i % 4 == 1 else (EPOCH + dt.timedelta(days=30 + i)).date(),
                _ts(i * 60),
                STATUSES[i % len(STATUSES)],
                topics,
                list(rng.sample(IMPACTED_AREAS, rng.randint(0, 3))),
                [("review impact", "safety_lead", None, "assessment.md")][: i % 2],
                _evidence(rng, empty=(i % 10 == 1)),
                conf,
                "",
                ("P0", "P1", "P2", "urgent", "high", "medium")[i % 6],
                tier,
                (None, *MONITORING_STAGES)[i % 6],
                f"profile_{i % 3}",
                None if i % 10 == 9 else f"doc-{i % 60:04d}",
                _ts(i * 60 if i % 8 else 0),  # created_at ties at i%8==0 (T-determinism)
                _ts(i * 60 + (86400 if re_ingest else 0)),
            )
        )
    return spark.createDataFrame(rows, schemas.REGULATION_ITEMS)


def review_queue(spark: SparkSession, n: int = 20, seed: int = 13) -> DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        payload = {
            "id": f"cand-{i:04d}",
            "title": f"Candidate {i}" if i % 4 else None,
            "jurisdiction": ("EU", "US", "XX")[i % 3],
            "topics": "cybersecurity" if i % 5 == 2 else ["emissions", "bogus_topic"],
            "priority": ("P0", "urgent", "high", "whatever")[i % 4],
            "confidence": (0.5, 1.7, -0.2, 0.9)[i % 4],
            "summary_1line": "s " * 300,
        }
        rows.append(
            (
                f"rq-{i:04d}",
                "RegulationItem" if i % 6 != 5 else "SomethingElse",
                json.dumps(payload),
                "validation: low confidence",
                ("pending", "approved", "rejected")[i % 3],
                _ts(i * 30),
                None if i % 3 == 0 else _ts(i * 30 + 600),
                None if i % 3 == 0 else "reviewer@example.com",
            )
        )
    return spark.createDataFrame(rows, schemas.REVIEW_QUEUE)


def links(spark: SparkSession, n: int = 40, seed: int = 17) -> DataFrame:
    rows = []
    for i in range(n):
        dup = i % 8 == 3  # duplicate 5-tuple pre-dedup (S6)
        j = i - 1 if dup else i
        dangling = j % 10 == 6  # endpoint absent from node tables (J5)
        rows.append(
            (
                f"link-{i:04d}",
                "Run",
                f"run-{j % 5:02d}",
                "RegulationItem",
                f"item-{9900 + j:04d}" if dangling else f"item-{j % 80:04d}",
                ("produced", "extracted_from", "queued_for_review", "mapped_to")[j % 4],
                {"seq": str(i)},
            )
        )
    return spark.createDataFrame(rows, schemas.LINKS)


def runs(spark: SparkSession, n: int = 6) -> DataFrame:
    rows = []
    for i in range(n):
        status = ("completed", "running", "failed", "queued", "completed", "completed")[i]
        rows.append(
            (
                f"run-{i:02d}",
                "scan" if i % 2 == 0 else "merge",
                "EU",
                90 if i % 2 == 0 else 0,
                status,
                _ts(i * 3600),
                _ts(i * 3600 + 1800) if status in ("completed", "failed") else None,
                {"discovered": str(5 * i), "errors": "0"},
                f"job-{i}",
            )
        )
    return spark.createDataFrame(rows, schemas.RUNS)


def run_logs(spark: SparkSession, per_run: int = 8) -> DataFrame:
    rows = []
    for r in range(6):
        for i in range(per_run):
            rows.append(
                (
                    f"log-{r:02d}-{i:03d}",
                    f"run-{r:02d}",
                    ("search", "triage", "process", "extract", "complete")[i % 5],
                    f"stage message {i}",
                    {"i": str(i)},
                    _ts(r * 3600 + i),  # strictly increasing per run (T3 replay)
                )
            )
    return spark.createDataFrame(rows, schemas.RUN_LOGS)


def vector_stores(spark: SparkSession) -> DataFrame:
    rows = [
        ("vs-00", "default-local", "local", None, "ready", _ts(0), None),
        ("vs-01", "openai-mirror", "openai", "ext-1", "ready", _ts(60), None),
    ]
    return spark.createDataFrame(rows, schemas.VECTOR_STORES)


def requirements(spark: SparkSession, n: int = 15, seed: int = 23) -> DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (
                f"req-{i:04d}",
                TOPICS[i % 5],
                ["EU"] if i % 2 else ["EU", "UN_ECE"],
                ["passenger", "commercial"][: 1 + i % 2],
                [f"fn_{i % 4}"],
                "" if i % 3 else "owner@example.com",
                ("complete", "partial", "missing")[i % 3],
                PRIORITIES[i % 3],
                None if i % 5 == 4 else f"item-{i % 80:04d}",
                _ts(i * 120),
            )
        )
    return spark.createDataFrame(rows, schemas.REQUIREMENTS)
