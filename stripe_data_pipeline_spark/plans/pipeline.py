"""End-to-end pipeline runner: raw NDJSON -> staging -> curated ->
marts (the Spark analogue of the reference's two DAGs, SURVEY.md §3.2).

Topology (stripe_update_dag.py:7-42 is a linear Bash-dbt chain; ours
is plain topological Python over model functions):

    raw invoices.json ──> stg_invoices ──> invoices
                                      └──> invoice_line_items ──┐
    exchange_rates (literal dim) ───────────────────────────────┤
                                                                ├──> deferred/recognized facts
    calendar (generated dim) ───────────────────────────────────┘

Change-set flow (the reference's per-model incremental runs,
invoices.sql:11-13 and its siblings): each staging layer lands only
its **change set**, the rows of the drop that are new or differ from
the stored row (whole-row exact comparison), and every later layer is
driven by those sets alone:

- ``invoices``, ``invoice_line_items`` and both marts are recomputed
  for the changed ``invoice_id``s only, and each merge first removes
  every old row of those invoices (the sinks' ``scope``), so lines that
  vanished and service days a shortened period lost go too;
- ``subscription_states`` is recomputed for the subscriptions whose
  events changed (and those whose stored state came from a changed
  event);
- an empty change set skips the layers below it, so an identical
  re-run writes no files — the reference's core guarantee
  (README.md:93-129).

Every downstream model is row- or key-local (only
``subscription_states`` has a window, partitioned by
``subscription_id``; revenue joins only the FX dim), so the contract
is **merged = backfill of the final state**, row for row. This
deviates on purpose from the reference's strict ``created > MAX(...)``
watermark, which skips a re-delivered invoice whose content changed.
Rows of unchanged invoices keep the ``_loaded_at`` of the run that
last changed them.

A run that stops after staging landed (a failed quality gate, a layer
error, a kill) leaves ``<warehouse>/_downstream_pending``; the next
run then treats every stored staging row as changed, so no downstream
update is stranded.

Determinism: ``as_of`` and ``loaded_at`` are explicit parameters
everywhere the reference calls CURRENT_DATE/CURRENT_TIMESTAMP
(SURVEY.md §7 risk list).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from stripe_data_pipeline_spark.incremental import merge_upsert, table_exists
from stripe_data_pipeline_spark.models.exchange_rates import exchange_rates
from stripe_data_pipeline_spark.models.invoice_line_items import (
    curated_invoice_line_items,
)
from stripe_data_pipeline_spark.models.invoices import curated_invoices
from stripe_data_pipeline_spark.models.revenue import (
    daily_revenue_facts,
    recognized_daily_facts_halfopen,
    with_usd_amounts,
)
from stripe_data_pipeline_spark.models.staging import dedup_exact, row_text, stage
from stripe_data_pipeline_spark.models.subscription_states import (
    curated_subscription_states,
)
from stripe_data_pipeline_spark.sources.stripe_schema import (
    EVENT_SCHEMA,
    INVOICE_SCHEMA,
    SUBSCRIPTION_SCHEMA,
)

# present while staging may hold rows the downstream layers have not seen
PENDING_MARKER = "_downstream_pending"


class QualityGateError(RuntimeError):
    """A quality gate found violations (the engine-side analogue of a
    failing dbt test, e.g. missing_period_end_threshold.sql)."""


class PipelineError(RuntimeError):
    """A pipeline layer failed; ``layer`` names it, ``__cause__`` is
    the original error."""

    def __init__(self, layer: str, cause: BaseException):
        super().__init__(f"pipeline layer {layer!r} failed: {cause}")
        self.layer = layer


class PipelineMonitor:
    """Run report + failure alerting — the engine-side counterpart of
    the reference's Airflow ``on_failure_callback`` stub
    (/root/reference/airflow/dags/composer_utils/utils.py:4-8, wired at
    stripe_update_dag.py via default_args; README.md:170-171 — the
    reference's own callback is a print placeholder, so this is parity
    completion plus the structured run report it implies).

    - ``on_failure(layer_name, error, report)`` fires BEFORE the error
      re-raises, for any layer exception or failing quality gate.
    - ``quality_gates=True`` evaluates the reference's implemented
      gate (>3% missing period_end, missing_period_end_threshold.sql)
      inside the run; a violation aborts the chain like a failing dbt
      test aborts ``dbt run``'s downstream models.
    - ``collect_counts=True`` records each layer's materialized row
      count (extra metadata-cheap count jobs; off by default so the
      report never adds table-sized work at scale).
    - ``report()`` returns the structured run report: per-layer
      status/seconds(/rows), gate verdicts, overall status. A staging
      layer also records ``changed``, the size of its change set; a
      layer with nothing to land reports ``"status": "skipped"``.
    """

    def __init__(
        self,
        on_failure=None,
        quality_gates: bool = False,
        collect_counts: bool = False,
    ):
        self.on_failure = on_failure
        self.quality_gates = quality_gates
        self.collect_counts = collect_counts
        self.layers: list[dict] = []
        self.gates: list[dict] = []
        self._failed: str | None = None

    import contextlib as _ctx

    @_ctx.contextmanager
    def layer(self, name: str, table=None):
        """Time one layer. Yields its report entry, which the body may
        annotate (``changed``, ``status="skipped"``)."""
        import time

        t0 = time.time()
        entry = {"layer": name, "status": "ok"}
        try:
            yield entry
        except BaseException as e:  # noqa: BLE001 — report, then re-raise
            entry.update(
                status="failed",
                seconds=round(time.time() - t0, 3),
                error=str(e),
            )
            self.layers.append(entry)
            self._failed = name
            if self.on_failure is not None:
                self.on_failure(name, e, self.report())
            raise PipelineError(name, e) from e
        entry["seconds"] = round(time.time() - t0, 3)
        if self.collect_counts and table is not None:
            entry["rows"] = table().count()
        self.layers.append(entry)

    def gate(self, name: str, layer: str, violations: DataFrame) -> None:
        """Evaluate a quality gate (violations relation; empty == pass)
        and abort the run on failure, reporting the OWNING LAYER."""
        n = violations.count()
        self.gates.append({"gate": name, "layer": layer, "violations": n})
        if n:
            err = QualityGateError(f"{name}: {n} violation row(s)")
            self._failed = layer
            if self.on_failure is not None:
                self.on_failure(layer, err, self.report())
            raise err

    def report(self) -> dict:
        return {
            "status": "failed" if self._failed else "ok",
            "failed_layer": self._failed,
            "layers": list(self.layers),
            "quality_gates": list(self.gates),
        }


def _change_set(staged: DataFrame, old: DataFrame | None) -> tuple[DataFrame, int]:
    """The rows of ``staged`` that are new or differ from every row of
    ``old`` (whole-row exact comparison), materialized, and their count.

    Materialized eagerly with ``localCheckpoint``, never ``cache()``:
    the staging sink rewrites ``old``'s files right after this, and a
    lazily re-evaluated (or evicted and recomputed) plan would diff the
    drop against the NEW files and come back silently empty. Lost
    checkpoint blocks fail the job instead of recomputing. The count
    rides the checkpoint's own job as an Observation."""
    if old is not None:
        old_rows = old.select(row_text(staged.columns).alias("__row"))
        staged = (
            staged.withColumn("__row", row_text(staged.columns))
            .join(old_rows, "__row", "left_anti")
            .drop("__row")
        )
    obs = Observation("changed")
    changed = staged.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    return changed, int(obs.get["n"])


def run_pipeline(
    spark: SparkSession,
    raw_dir: str,
    warehouse_dir: str,
    loaded_at: dt.datetime | None = None,
    monitor: PipelineMonitor | None = None,
    atomic: bool = False,
) -> dict[str, DataFrame]:
    """One scheduled run (the '30 1 * * *' tick): drain the raw drop
    through every layer, driven by the staging change sets (module
    docstring); returns the materialized tables. Pass a
    ``PipelineMonitor`` for per-layer run reporting, quality gates and
    failure callbacks (see its docstring); without one the run is
    unmonitored, as before. ``atomic=True`` lands every layer on the
    crash-atomic manifest sink instead of plain parquet — the whole
    reference DAG gains per-layer snapshot isolation, time travel and
    the commit audit log, with identical table contents (pytest-
    asserted equal to the plain run)."""
    loaded_at = loaded_at or dt.datetime(2024, 6, 1)
    mon = monitor or PipelineMonitor()
    w = lambda name: os.path.join(warehouse_dir, name)  # noqa: E731

    if atomic:
        from stripe_data_pipeline_spark import manifest_table as MT

        def sink(path, df, keys, partition_by=None, scope=None):
            MT.merge_upsert_atomic(
                spark, path, df, keys=keys, partition_by=partition_by, scope=scope
            )

        def read(path):
            return MT.read_table(spark, path)

        def exists(path):
            return MT.read_manifest(path) is not None

    else:

        def sink(path, df, keys, partition_by=None, scope=None):
            merge_upsert(
                spark, path, df, keys=keys, partition_by=partition_by, scope=scope
            )

        def read(path):
            return spark.read.parquet(path)

        exists = table_exists

    pending = os.path.join(warehouse_dir, PENDING_MARKER)
    # a previous run stopped after staging landed: every stored staging
    # row counts as changed, so its downstream updates are not stranded
    replay = os.path.exists(pending)

    def must_land(entry, name: str, n: int) -> bool:
        """A layer with nothing to do is skipped — unless its table does
        not exist yet, so an empty first drop still creates it."""
        if replay or n or not exists(w(name)):
            return True
        entry["status"] = "skipped"
        return False

    # --- staging (P1 + S6 merge on id, partitioned by created_at_date)
    def land_staging(name, file, schema, partition_by=None) -> tuple[DataFrame, int]:
        with mon.layer(name, lambda: read(w(name))) as entry:
            raw = spark.read.schema(schema).json(os.path.join(raw_dir, file))
            old = read(w(name)) if exists(w(name)) else None
            changed, n = _change_set(dedup_exact(stage(raw)), old)
            entry["changed"] = n
            if n or old is None:
                os.makedirs(warehouse_dir, exist_ok=True)
                open(pending, "a").close()  # before the first staging row lands
                sink(w(name), changed, keys=["id"], partition_by=partition_by)
            else:
                entry["status"] = "skipped"
        return changed, n

    inv_changes, n_inv = land_staging(
        "stg_invoices", "invoices.json", INVOICE_SCHEMA, partition_by="created_at_date"
    )
    land_staging("stg_subscriptions", "subscriptions.json", SUBSCRIPTION_SCHEMA)
    evt_changes, n_evt = land_staging(
        "stg_subscription_updates", "subscription_updates.json", EVENT_SCHEMA
    )
    if replay:
        inv_changes = read(w("stg_invoices"))
        evt_changes = read(w("stg_subscription_updates"))

    # --- curated, for the changed invoices only
    changed_invoices = inv_changes.select(F.col("id").alias("invoice_id")).distinct()
    with mon.layer("invoices", lambda: read(w("invoices"))) as entry:
        if must_land(entry, "invoices", n_inv):
            sink(
                w("invoices"),
                curated_invoices(inv_changes, loaded_at),
                keys=["invoice_id"],
                partition_by="created_at_date",
            )
    line_items = curated_invoice_line_items(inv_changes, loaded_at)
    with mon.layer(
        "invoice_line_items", lambda: read(w("invoice_line_items"))
    ) as entry:
        if must_land(entry, "invoice_line_items", n_inv):
            sink(
                w("invoice_line_items"),
                line_items,
                keys=["line_item_id"],
                partition_by="invoice_created_date",
                scope=changed_invoices,
            )
    if mon.quality_gates:
        # the reference's implemented dbt test, run in-line so a
        # violation stops downstream marts like a failing `dbt test`
        from stripe_data_pipeline_spark.models.quality import (
            check_missing_period_end,
        )

        mon.gate(
            "missing_period_end_threshold",
            "invoice_line_items",
            check_missing_period_end(read(w("invoice_line_items"))),
        )

    # --- curated: subscription changelog compaction (the completion of
    # stg_subscription_updates — no downstream ref() in the reference).
    # Affected: the subscriptions the changed events now name, and those
    # whose stored state came from a changed event (its old version may
    # have named another subscription).
    with mon.layer(
        "subscription_states", lambda: read(w("subscription_states"))
    ) as entry:
        if must_land(entry, "subscription_states", n_evt):
            sub_of = F.get_json_object("data", "$.object.id")
            affected = evt_changes.select(sub_of.alias("subscription_id"))
            if exists(w("subscription_states")):
                affected = affected.unionByName(
                    read(w("subscription_states"))
                    .join(
                        evt_changes.select(F.col("id").alias("last_event_id")),
                        "last_event_id",
                        "left_semi",
                    )
                    .select("subscription_id")
                )
            affected = affected.filter(F.col("subscription_id").isNotNull()).distinct()
            events = read(w("stg_subscription_updates"))
            sink(
                w("subscription_states"),
                curated_subscription_states(
                    events.join(
                        affected, sub_of == affected["subscription_id"], "left_semi"
                    ),
                    loaded_at,
                ),
                keys=["subscription_id"],
                scope=affected,
            )

    # --- marts: deferred/recognized daily facts of the changed invoices
    usd = with_usd_amounts(line_items, exchange_rates(spark))
    facts = daily_revenue_facts(usd, domain_start_col="invoice_created_date").withColumn(
        "_loaded_at", F.lit(loaded_at)
    )
    out_cols = [
        "line_item_id",
        "invoice_id",
        "customer_id",
        "subscription_id",
        "as_of_date",
        "currency",
        "amount_without_tax",
        "amount_without_tax_usd",
        "period_start_date",
        "period_end_date_inferred",
        "service_period_days",
        "daily_revenue_usd",
        "deferred_revenue_usd",
        "recognized_revenue_usd",
        "invoice_created_date",
        "_loaded_at",
    ]
    with mon.layer(
        "deferred_revenue", lambda: read(w("deferred_revenue"))
    ) as entry:
        if must_land(entry, "deferred_revenue", n_inv):
            sink(
                w("deferred_revenue"),
                facts.select(*out_cols),
                keys=["line_item_id", "as_of_date"],  # deferred_revenue.sql:3
                partition_by="as_of_date",
                scope=changed_invoices,
            )

    # --- marts: recognized_revenue (recognized_revenue.sql:1-105) —
    # half-open day domain [period_start, period_end), one row per
    # (line_item, recognition day), merge on [line_item_id,
    # recognition_date] (:2-4), partitioned by recognition_date (:5).
    recognized = recognized_daily_facts_halfopen(usd).withColumn(
        "_loaded_at", F.lit(loaded_at)
    )
    rec_cols = [
        "line_item_id",
        "invoice_id",
        "customer_id",
        "subscription_id",
        "recognition_date",
        "currency",
        "amount_without_tax",
        "amount_without_tax_usd",
        "period_start_date",
        "period_end_date_inferred",
        "service_period_days",
        "daily_revenue_usd",
        "recognized_revenue_usd",
        "invoice_created_date",
        "_loaded_at",
    ]
    with mon.layer(
        "recognized_revenue", lambda: read(w("recognized_revenue"))
    ) as entry:
        if must_land(entry, "recognized_revenue", n_inv):
            sink(
                w("recognized_revenue"),
                recognized.select(*rec_cols),
                keys=["line_item_id", "recognition_date"],
                partition_by="recognition_date",
                scope=changed_invoices,
            )
    if os.path.exists(pending):
        os.remove(pending)  # every downstream update has landed

    return {
        name: read(w(name))
        for name in (
            "stg_invoices",
            "stg_subscriptions",
            "stg_subscription_updates",
            "invoices",
            "invoice_line_items",
            "subscription_states",
            "deferred_revenue",
            "recognized_revenue",
        )
    }
