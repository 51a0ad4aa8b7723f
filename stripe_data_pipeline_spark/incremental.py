"""Incremental + merge runtime (SURVEY.md §2.1 S6, §2.2 P4, §4).

The reference's core guarantee is idempotent incremental processing:
a daily run computes only rows past a high-watermark
(curated/invoices.sql:11-13) and MERGEs them into the target by
unique key (stg_invoices.sql:1-6; README.md:110-129), so reprocessing
the same input is a no-op.

Spark-first mapping:
- high-watermark: engine-level (not Catalyst) — resolve MAX(cursor)
  from the target, inject a filter on the source; with date-partitioned
  targets the filter prunes partitions for free.
- merge sink: an anti-join + union rewrite over plain parquet. Old
  rows matching ``scope`` (default: the update keys) are removed, then
  the updates land. ``plans.pipeline`` feeds it only each layer's
  change set and scopes the line-item and mart merges to the changed
  invoices, so a daily drop rewrites what it changed and merged =
  backfill of the final state; an identical re-run never calls it. On
  a partitioned target it rewrites only the partitions the update
  batch or the scoped old rows touch (the dynamic-partition-overwrite
  strategy), staging to a sibling directory and swapping the touched
  partition dirs. The swap
  is idempotent but NOT crash-atomic — for the reference's full
  BigQuery-MERGE durability guarantee (README.md:110-129) use
  ``manifest_table.merge_upsert_atomic``: identical semantics,
  committed by a single atomic manifest rename, kill-tested at every
  crash boundary (tests/test_manifest_table.py). This plain-directory
  sink remains for targets that must stay readable as a bare parquet
  path (no MANIFEST indirection).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def resolve_high_watermark(spark: SparkSession, target_path: str, cursor_col: str):
    """S2: MAX(cursor) from the target table; None when the target
    doesn't exist yet (first run loads everything —
    extract_stripe_data.py:43-59 default-0 behavior)."""
    try:
        target = spark.read.parquet(target_path)
    except Exception:  # noqa: BLE001 — missing target == first run
        return None
    return target.agg(F.max(cursor_col)).first()[0]


def incremental_filter(src: DataFrame, cursor_col: str, hwm) -> DataFrame:
    """P4: high-watermark filter (WHERE cursor > hwm)."""
    if hwm is None:
        return src
    return src.filter(F.col(cursor_col) > F.lit(hwm))


def _spark_partition_dir_value(spark: SparkSession, v) -> str:
    """Render a partition VALUE the way Spark renders it in a partition
    directory name: None -> __HIVE_DEFAULT_PARTITION__, booleans
    lowercased, and special path chars percent-escaped via the same
    JVM routine Spark's writer uses (ExternalCatalogUtils.escapePathName),
    so ``ts=2024-01-01 10:00:00`` becomes ``ts=2024-01-01 10%3A00%3A00``.
    """
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        raw = "true" if v else "false"
    else:
        raw = str(v)
    try:
        jvm = spark._jvm  # noqa: SLF001 — py4j access to Spark's own escaper
        return jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
            raw
        )
    except Exception:  # noqa: BLE001 — Connect/older builds: best-effort
        return raw


def table_exists(path: str) -> bool:
    """Has a write landed a parquet table at ``path``?"""
    return os.path.exists(path) and any(
        f.endswith(".parquet") or f.startswith(("part-", "_SUCCESS"))
        for _, _, files in os.walk(path)
        for f in files
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
    scope: DataFrame | None = None,
) -> None:
    """S6: upsert ``updates`` into ``target_path`` by composite key.

    Matched rows are replaced, unmatched inserted — the dbt
    incremental 'merge' strategy. Composite keys supported
    (deferred_revenue.sql:3 uses [line_item_id, as_of_date]).

    ``scope`` is a DataFrame of key values: every old row that matches
    it on its columns is removed before the updates land. It defaults
    to the updates' ``keys``; a wider scope (the pipeline passes the
    changed ``invoice_id``s to the line-item and mart merges) also
    removes rows the updates no longer carry — a line that vanished or
    a service day that a shortened period lost. Every update row must
    fall inside ``scope``.

    Implementation is the plain-parquet strategy (anti-join + union +
    staging swap, partition-scoped when partitioned). On a deployment
    with an ACID table format (Delta/Iceberg), swap this body for
    ``DeltaTable.merge().whenMatchedUpdateAll().whenNotMatchedInsertAll()``
    — the call sites and semantics (verified by tests/test_incremental.py)
    are format-agnostic by design.
    """
    if not table_exists(target_path):
        writer = updates.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(target_path)
        return

    old = spark.read.parquet(target_path)
    if scope is None:
        scope = updates.select(*keys).distinct()
    # a USING join moves the join columns to the front: keep the
    # table's own column order
    on = scope.columns

    if partition_by:
        # Rewrite only partitions touched by the update batch — but match
        # keys GLOBALLY, like the reference's MERGE: an update that moves a
        # key to a new partition value must also displace the stale row
        # from its old partition, so touched = partitions of the updates
        # UNION partitions of old rows inside ``scope``. One collect for
        # both sets; the semi join is left to AQE (it will broadcast the
        # scope when it is small — no unconditional driver-side
        # broadcast of an unbounded key set).
        part_vals = {
            r[0]
            for r in updates.select(F.col(partition_by).alias("pv"))
            .unionByName(
                old.join(scope, on, "left_semi").select(
                    F.col(partition_by).alias("pv")
                )
            )
            .distinct()
            .collect()
        }
        # Filter by literal partition values (small driver-side list) so the
        # scan partition-prunes; isin is null-hostile, handle NULL explicitly
        # (Spark stores it as __HIVE_DEFAULT_PARTITION__).
        non_null = [v for v in part_vals if v is not None]
        cond = F.col(partition_by).isin(non_null) if non_null else F.lit(False)
        if None in part_vals:
            cond = cond | F.col(partition_by).isNull()
        old_touched = old.filter(cond)
        kept = old_touched.join(scope, on, "left_anti").select(*old.columns)
        merged = kept.unionByName(updates)
        staging = f"{target_path}.staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").partitionBy(partition_by).parquet(staging)
        # Move the partition dirs Spark ACTUALLY wrote (os.listdir), not
        # names reconstructed from values — Spark escapes special chars
        # (':' ' ' '=' ...) and renders types (true/false) in dir names,
        # and a reconstructed name that mismatches would silently drop
        # the freshly-written partition with the staging dir.
        prefix = f"{partition_by}="
        staged_dirs = {
            d
            for d in os.listdir(staging)
            if d.startswith(prefix)
            and os.path.isdir(os.path.join(staging, d))
        }
        for part_dir in staged_dirs:
            dst_dir = os.path.join(target_path, part_dir)
            if os.path.exists(dst_dir):
                shutil.rmtree(dst_dir)
            shutil.move(os.path.join(staging, part_dir), dst_dir)
        # A touched partition can come out EMPTY (every old row displaced,
        # no update lands there): staging has no dir for it, but the stale
        # target dir must still go. Render those names the way Spark does
        # (JVM escapePathName) so e.g. ':' in timestamp values matches.
        for v in part_vals:
            part_dir = prefix + _spark_partition_dir_value(spark, v)
            if part_dir not in staged_dirs:
                shutil.rmtree(os.path.join(target_path, part_dir), ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
    else:
        kept = old.join(scope, on, "left_anti").select(*old.columns)
        merged = kept.unionByName(updates)
        staging = f"{target_path}.staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(staging)
        shutil.rmtree(target_path)
        shutil.move(staging, target_path)
    # Spark's shared FileStatusCache may hold the pre-swap listing for
    # this path (infinite TTL by default); a later read would hit
    # deleted part files. Invalidate explicitly.
    spark.catalog.refreshByPath(target_path)


def incremental_merge_run(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    keys: list[str],
    cursor_col: str,
    partition_by: str | None = None,
) -> int:
    """One incremental pipeline step: HWM -> filter -> merge.

    Returns the number of rows merged (0 on an idempotent rerun).
    """
    hwm = resolve_high_watermark(spark, target_path, cursor_col)
    batch = incremental_filter(source, cursor_col, hwm)
    n = batch.count()
    if n:
        merge_upsert(spark, target_path, batch, keys, partition_by)
    return n
