"""Staging models (P1 star-plus projections).

Reference: dbt/stripe/models/staging/stg_{invoices,subscriptions,
subscription_updates}.sql — `SELECT s.*, DATE(TIMESTAMP_SECONDS(
CAST(created AS INT64))) AS created_at_date FROM source` with
incremental MERGE on id (stg_invoices.sql:1-13).

The derived ``created_at_date`` is the partition column for every
staging table (S8) — it's what makes the daily incremental filter a
partition-pruning scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def stage(raw: DataFrame) -> DataFrame:
    """P1: passthrough + created_at_date (stg_invoices.sql:10-13)."""
    return raw.withColumn(
        "created_at_date",
        F.to_date(F.timestamp_seconds(F.col("created").cast("long"))),
    )


def row_text(columns: list[str]) -> Column:
    """The exact JSON text of each whole row, fields in ``columns``
    order. Two rows of one schema are equal iff their texts are: every
    value renders losslessly, and it also covers the map columns that
    no Spark comparison or ordering accepts."""
    return F.to_json(F.struct(*[F.col(c) for c in columns]))


def dedup_exact(df: DataFrame) -> DataFrame:
    """One row per ``id``. When a drop holds several versions of an
    id, the one whose ``row_text`` sorts last wins: a total order over
    the whole row, so the pick does not depend on file splits or task
    scheduling (``dropDuplicates`` keeps whichever copy a task met
    first)."""
    w = Window.partitionBy("id").orderBy(F.col("__row").desc())
    return (
        df.withColumn("__row", row_text(df.columns))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__row", "__rn")
    )


# per-resource aliases, for pipeline readability
stg_invoices = stage
stg_subscriptions = stage
stg_subscription_updates = stage
