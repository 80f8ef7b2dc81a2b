"""Normalization transforms — SURVEY.md §2.8 V3-V6.

The reference normalizes messy candidate payloads in two near-duplicate
60-line blocks (index.ts:427-488 server-side, ItemBrowser.tsx:466-525
client-side); here it is one columnar transform: enum fallbacks, array
coercion + whitelist intersection, truncation, confidence clamping,
priority keyword mapping. Idempotent by construction (property-tested).

:func:`normalize_columns` builds the transform as named Columns with no
DataFrame bound, so a caller that applies it on every batch
(``pipelines.scan.run_scan``) builds it once; :func:`normalize_items`
applies it as one ``withColumns``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ontology import (
    IMPACTED_AREAS,
    JURISDICTIONS,
    PRIORITIES,
    SOURCE_TYPES,
    TOPICS,
)


def enum_or_default(col: Column, allowed: tuple[str, ...], default: str) -> Column:
    """Enum fallback (index.ts:427-488: unknown values → documented
    defaults, e.g. jurisdiction→EU, source_type→guidance)."""
    return F.when(col.isin(*allowed), col).otherwise(F.lit(default))


def whitelist_array(col: Column, allowed: tuple[str, ...]) -> Column:
    """Array whitelist filter (topics/areas intersected with the closed
    vocabulary — index.ts:452-460)."""
    return F.array_intersect(
        F.coalesce(col, F.array().cast("array<string>")),
        F.array(*[F.lit(v) for v in allowed]),
    )


def clamp_unit(col: Column) -> Column:
    """Confidence clamp to [0,1] (scan.ts:265-267)."""
    return F.least(F.greatest(col.cast("double"), F.lit(0.0)), F.lit(1.0))


def normalize_priority(col: Column) -> Column:
    """V5 free-text priority → P0/P1/P2 (scan.ts:474-483:
    urgent/critical→P0, high→P1, medium/low→P2, default P2)."""
    p = F.lower(F.coalesce(col, F.lit("")))
    return (
        F.when(p.isin(*[x.lower() for x in PRIORITIES]), F.upper(p))
        .when(p.rlike("urgent|critical"), F.lit("P0"))
        .when(p.rlike("high"), F.lit("P1"))
        .otherwise(F.lit("P2"))
    )


def truncate(col: Column, n: int) -> Column:
    """V8 truncations (summary 400 / content 4000 / snippet 300 —
    scan.ts:276,288,396)."""
    return F.substring(col, 1, n)


def normalize_columns() -> dict[str, Column]:
    """V3/V4 as named columns over the regulation_items shape, with no
    DataFrame bound: every column coerced into its closed domain. Each
    expression reads only input columns, so the whole dict applies as
    one projection (``title`` truncates the raw summary to 80 chars,
    which equals truncating the 400-char one)."""
    return {
        "jurisdiction": enum_or_default(F.col("jurisdiction"), JURISDICTIONS, "EU"),
        "source_type": enum_or_default(F.col("source_type"), SOURCE_TYPES, "guidance"),
        "topics": whitelist_array(F.col("topics"), TOPICS),
        "impacted_areas": whitelist_array(F.col("impacted_areas"), IMPACTED_AREAS),
        "confidence": clamp_unit(F.col("confidence")),
        "priority": normalize_priority(F.col("priority")),
        "summary_1line": truncate(F.col("summary_1line"), 400),
        "title": F.coalesce(
            F.nullif(F.col("title"), F.lit("")),
            truncate(F.col("summary_1line"), 80),
            F.lit("Untitled"),
        ),
    }


def normalize_items(items: DataFrame) -> DataFrame:
    """V3/V4 applied to the regulation_items shape: one projection of
    :func:`normalize_columns`."""
    return items.withColumns(normalize_columns())
