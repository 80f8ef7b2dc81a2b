"""Write-side transforms — SURVEY.md §2.1 S3-S8 as DataFrame → DataFrame
functions.

The reference does row-at-a-time SQL upserts (repository.ts:14-23
ON CONFLICT DO NOTHING; repository.ts:25-78 ON CONFLICT UPDATE all 21
cols; repository.ts:123-145 link upsert against the unique 5-tuple
index). Here the same observable semantics are pure transforms
(`insert_if_absent`, `upsert_latest_wins`, `dedup_on_keys`,
`edge_upsert`, `snapshot_changes`), usable inside any plan. The one
table format, :class:`~.delta_log.DeltaLogTable`, applies them to the
files a commit touches (MERGE's latest-wins rewrite, the keyed change
feed between two snapshots).

Scale: every merge shuffles once on the key columns; at 100 TB the
table directories would be partitioned (e.g. regulation_items by
jurisdiction — SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def insert_if_absent(existing: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """S3 ON CONFLICT DO NOTHING, batch form: rows of ``new`` whose key is
    absent from ``existing`` (left-anti join), appended to existing."""
    fresh = new.join(existing.select(*keys).distinct(), keys, "left_anti")
    return existing.unionByName(fresh)


def upsert_latest_wins(
    existing: DataFrame, updates: DataFrame, keys: list[str], version_col: str
) -> DataFrame:
    """S4 ON CONFLICT UPDATE (full row): union then keep the newest
    version per key — W2 window compaction. Deterministic tie-break on
    the key columns is unnecessary (version ties resolve to the update
    side via the source-priority column)."""
    tagged_old = existing.withColumn("_src", F.lit(1))
    tagged_new = updates.withColumn("_src", F.lit(0))
    w = W.partitionBy(*keys).orderBy(F.desc(version_col), F.asc("_src"))
    return (
        tagged_new.unionByName(tagged_old)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def dedup_on_keys(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """S6 unique-index semantics (links 5-tuple, schema.sql:101-102):
    deterministic survivor per key tuple."""
    w = W.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def edge_upsert(existing: DataFrame, new: DataFrame, id_order: Column) -> DataFrame:
    """S6: dedup incoming edges on the 5-tuple, left-anti against
    existing, append (repository.ts:123-145)."""
    five = ["from_type", "from_id", "to_type", "to_id", "relation"]
    fresh = dedup_on_keys(new, five, [id_order]).join(
        existing.select(*five).distinct(), five, "left_anti"
    )
    return existing.unionByName(fresh)


def snapshot_changes(new: DataFrame, old: DataFrame, keys: list[str]) -> DataFrame:
    """Keyed diff of two snapshots — the engine behind
    ``DeltaLogTable.changes`` when its window holds more than adds: one
    null-safe full-outer key join, side presence via
    literal marker columns (a NULL key is still a real key value under
    eqNullSafe, so key-nullness can't stand in for absence), unchanged
    keys filtered by a null-safe struct comparison."""
    val_cols = [c for c in new.columns if c not in keys]
    return (
        new.withColumn("_side_n", F.lit(1))
        .join(
            old.select(
                *[F.col(k).alias(f"_ok_{k}") for k in keys],
                *[F.col(c).alias(f"_o_{c}") for c in val_cols],
                F.lit(1).alias("_side_o"),
            ),
            [F.col(k).eqNullSafe(F.col(f"_ok_{k}")) for k in keys],
            "full_outer",
        )
        .select(
            *[F.coalesce(F.col(k), F.col(f"_ok_{k}")).alias(k) for k in keys],
            *[
                F.when(F.col("_side_n").isNotNull(), F.col(c))
                .otherwise(F.col(f"_o_{c}"))
                .alias(c)
                for c in val_cols
            ],
            F.when(F.col("_side_o").isNull(), F.lit("insert"))
            .when(F.col("_side_n").isNull(), F.lit("delete"))
            .otherwise(F.lit("update_postimage"))
            .alias("_change_type"),
            F.when(
                F.col("_side_n").isNotNull() & F.col("_side_o").isNotNull(),
                F.struct(*[F.col(c) for c in val_cols])
                .eqNullSafe(F.struct(*[F.col(f"_o_{c}") for c in val_cols])),
            )
            .otherwise(F.lit(False))
            .alias("_unchanged"),
        )
        .filter(~F.col("_unchanged"))
        .drop("_unchanged")
    )
