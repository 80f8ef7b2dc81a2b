"""Validation + routing transforms — SURVEY.md §2.8 V1/V2, the
reference's governance core (ontology/validator.ts:26-56,
jobs/scan.ts:50-74, jobs/merge.ts:42-65).

One columnar pass computes a ``violations`` array per item; routing
splits valid+TIER_A rows to main and everything else to the review
queue with concatenated reasons. Pure expressions — enum membership
compiles to literal ``isin``/``array_except`` (Delta CHECK constraints
can't express enum-array membership; this transform is the engine's
equivalent — SURVEY §4.5).

:func:`validation_columns` and :func:`route_columns` build the rules as
named Columns with no DataFrame bound (every literal and operator is a
py4j round trip, ~1.4k for the two), so ``pipelines.scan.run_scan``
builds them once per session; :func:`with_validation` and
:func:`with_route` apply them as one ``withColumns`` each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import urls
from ..ontology import (
    IMPACTED_AREAS,
    JURISDICTIONS,
    PRIORITIES,
    SOURCE_TYPES,
    STATUSES,
    TOPICS,
    TRUST_TIERS,
)

DEFAULT_CONFIDENCE_MIN = 0.7  # runtime config default (config/runtime.ts:10-15)


def _enum_ok(col: str, allowed: tuple[str, ...]) -> Column:
    return F.col(col).isNull() | F.col(col).isin(*allowed)


def _array_enum_ok(col: str, allowed: tuple[str, ...]) -> Column:
    # no element outside the closed vocabulary
    return F.col(col).isNull() | (
        F.size(F.array_except(F.col(col), F.array(*[F.lit(v) for v in allowed]))) == 0
    )


def validation_columns(
    confidence_min: float = DEFAULT_CONFIDENCE_MIN,
    allowed_domains: tuple[str, ...] = urls.DEFAULT_ALLOWED_DOMAINS,
) -> dict[str, Column]:
    """V1 (validator.ts:26-48) as named columns with no DataFrame
    bound: ``violations array<string>`` and ``valid boolean``. Reject
    reasons mirror the reference: schema/enum fail, disallowed domain,
    empty citations, confidence below the runtime threshold. ``valid``
    repeats the violations expression instead of reading the column, so
    both apply as one projection."""
    domain = urls.extract_domain(F.col("url"))
    checks = F.array(
        F.when(~_enum_ok("jurisdiction", JURISDICTIONS), F.lit("jurisdiction_not_in_enum")),
        F.when(~_enum_ok("source_type", SOURCE_TYPES), F.lit("source_type_not_in_enum")),
        F.when(~_enum_ok("status", STATUSES), F.lit("status_not_in_enum")),
        F.when(~_enum_ok("priority", PRIORITIES), F.lit("priority_not_in_enum")),
        F.when(~_enum_ok("trust_tier", TRUST_TIERS), F.lit("trust_tier_not_in_enum")),
        F.when(~_array_enum_ok("topics", TOPICS), F.lit("topic_not_in_enum")),
        F.when(~_array_enum_ok("impacted_areas", IMPACTED_AREAS), F.lit("area_not_in_enum")),
        F.when(F.col("title").isNull() | (F.col("title") == ""), F.lit("missing_title")),
        F.when(F.length("summary_1line") > 400, F.lit("summary_too_long")),
        F.when(
            F.size(F.coalesce(F.col("evidence.citations"), F.array())) == 0,
            F.lit("empty_citations"),
        ),
        F.when(~urls.allowed_domain(domain, allowed_domains), F.lit("disallowed_domain")),
        F.when(F.col("confidence") < F.lit(confidence_min), F.lit("confidence_below_min")),
    )
    violations = F.filter(checks, lambda x: x.isNotNull())
    return {"violations": violations, "valid": F.size(violations) == 0}


def with_validation(
    items: DataFrame,
    confidence_min: float = DEFAULT_CONFIDENCE_MIN,
    allowed_domains: tuple[str, ...] = urls.DEFAULT_ALLOWED_DOMAINS,
) -> DataFrame:
    """V1: adds ``violations`` and ``valid`` — one projection of
    :func:`validation_columns`."""
    return items.withColumns(validation_columns(confidence_min, allowed_domains))


def route_columns() -> dict[str, Column]:
    """V2 hard-law gate (jobs/scan.ts:50-74) as named columns: only
    valid AND TIER_A_BINDING goes to main; everything else routes to
    review_queue with the concatenated violation reasons."""
    is_main = F.col("valid") & (F.col("trust_tier") == "TIER_A_BINDING")
    reason = F.when(
        F.size("violations") > 0, F.array_join("violations", " | ")
    ).otherwise(F.lit("tier_requires_review"))
    return {
        "route": F.when(is_main, F.lit("main")).otherwise(F.lit("review_queue")),
        "route_reason": F.when(is_main, F.lit(None).cast("string")).otherwise(reason),
    }


def with_route(validated: DataFrame) -> DataFrame:
    """V2: adds ``route`` and ``route_reason`` — one projection of
    :func:`route_columns`."""
    return validated.withColumns(route_columns())


def route_filters() -> tuple[Column, Column]:
    """The (main, review_queue) predicates over ``route``."""
    return F.col("route") == "main", F.col("route") == "review_queue"


def split_routes(routed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two filters over the single routed plan → (main, review)."""
    main, review = route_filters()
    return routed.filter(main), routed.filter(review)
