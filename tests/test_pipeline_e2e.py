"""End-to-end pipeline test on the Stripe-shaped fixture: raw nested
NDJSON through staging -> curated -> marts, idempotency included
(SURVEY.md §5 items 2-3)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stripe_data_pipeline_spark.plans.pipeline import run_pipeline
from stripe_data_pipeline_spark.sources.fixtures import write_fixture

LOADED_AT = dt.datetime(2024, 6, 1)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    raw = str(tmp_path_factory.mktemp("raw"))
    wh = str(tmp_path_factory.mktemp("wh"))
    write_fixture(raw, n_invoices=40)
    tables = run_pipeline(spark, raw, wh, LOADED_AT)
    return raw, wh, tables


def _snapshot(tables):
    return {
        name: sorted(map(repr, df.collect())) for name, df in tables.items()
    }


def test_staging_dedups_redelivery(warehouse):
    _, _, t = warehouse
    stg = t["stg_invoices"]
    assert stg.count() == 40  # duplicates in the drop collapsed by id
    assert stg.filter(F.col("created_at_date").isNull()).count() == 0


def test_curated_invoices_shape(warehouse):
    _, _, t = warehouse
    inv = t["invoices"]
    assert inv.count() == 40
    row = inv.filter(F.col("invoice_id") == "in_1").first()
    assert row["customer_id"] == "cus_1"
    assert row["amount_due"] == row["total"]
    # money became double dollars (cents/100)
    assert isinstance(row["total"], float)


def test_line_items_explode_and_tax(warehouse):
    _, _, t = warehouse
    li = t["invoice_line_items"]
    # only paid invoices (P3), exploded per line
    assert li.select("invoice_id").distinct().count() == li.filter(
        F.col("invoice_status") == "paid"
    ).select("invoice_id").distinct().count()
    # multi-line invoice fan-out: in_2 is paid and has 3 lines
    assert li.filter(F.col("invoice_id") == "in_2").count() == 3
    # A4/A5: inclusive tax line
    row = li.filter(F.col("line_item_id") == "il_1_0").first()
    assert row["tax_behavior"] == "inclusive"
    assert row["is_tax_inclusive"] is True
    assert row["tax_amount"] == pytest.approx(2.0)  # 200 cents
    # missing period end -> inferred start+1 (invoice_line_items.sql:102-116)
    missing = li.filter(F.col("is_missing_period_end")).first()
    assert missing is not None
    assert (
        missing["period_end_date_inferred"]
        == missing["period_start_date"] + dt.timedelta(days=1)
    )


def test_marts_deferred_facts(warehouse):
    _, _, t = warehouse
    facts = t["deferred_revenue"]
    assert facts.count() > 0
    # composite key is unique (deferred_revenue.sql:3)
    assert (
        facts.groupBy("line_item_id", "as_of_date").count().filter("count > 1").count()
        == 0
    )
    # conservation: deferred + recognized == amount on every day
    bad = facts.filter(
        F.abs(
            F.col("deferred_revenue_usd")
            + F.col("recognized_revenue_usd")
            - F.col("amount_without_tax_usd")
        )
        > 1e-9
    )
    assert bad.count() == 0


def test_marts_recognized_halfopen(warehouse):
    _, _, t = warehouse
    rec = t["recognized_revenue"]
    assert rec.count() > 0
    # composite key is unique (recognized_revenue.sql:2-4)
    assert (
        rec.groupBy("line_item_id", "recognition_date")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )
    # half-open domain: days in [start, end) only — never the end date
    assert rec.filter(F.col("recognition_date") >= F.col("period_end_date_inferred")).count() == 0
    assert rec.filter(F.col("recognition_date") < F.col("period_start_date")).count() == 0
    # per-line-item day count == service period length (half-open)
    bad = (
        rec.groupBy("line_item_id", "service_period_days")
        .count()
        .filter(F.col("count") != F.col("service_period_days"))
    )
    assert bad.count() == 0
    # full recognition sums to the net amount: sum(daily) == amount
    tot = (
        rec.groupBy("line_item_id", "amount_without_tax_usd")
        .agg(F.sum("daily_revenue_usd").alias("s"))
        .filter(F.abs(F.col("s") - F.col("amount_without_tax_usd")) > 1e-6)
    )
    assert tot.count() == 0


def test_pipeline_idempotent(spark, warehouse):
    raw, wh, tables = warehouse
    before = _snapshot(tables)
    tables2 = run_pipeline(spark, raw, wh, LOADED_AT)  # rerun, same drop
    after = _snapshot(tables2)
    assert before == after


def test_pipeline_day_two_increment(spark, warehouse):
    """A second day's (larger) snapshot drop: existing rows merge
    idempotently, new invoices append — the reference's daily
    overwrite-snapshot + MERGE accumulation model (README.md:102-129)."""
    raw, wh, t = warehouse
    # re-read: DataFrames captured before a merge rewrite hold the old
    # file listing (the engine swaps files; stale handles are expected)
    n_li_before = spark.read.parquet(f"{wh}/invoice_line_items").count()
    write_fixture(raw, n_invoices=55)  # supersedes the day-1 drop of 40
    t2 = run_pipeline(spark, raw, wh, LOADED_AT)
    assert t2["stg_invoices"].count() == 55
    assert t2["invoices"].count() == 55
    assert t2["invoice_line_items"].count() > n_li_before
    # day-1 rows are unchanged (same ids, same values)
    row = t2["invoices"].filter(F.col("invoice_id") == "in_1").first()
    assert row["customer_id"] == "cus_1"
    # facts keep the composite-key invariant after the second merge
    assert (
        t2["deferred_revenue"]
        .groupBy("line_item_id", "as_of_date")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )


def test_stripe_source_to_atomic_manifest_mart(spark):
    """The production composition: REST connector (S1, time-window
    partitioned + paginated) -> incremental HWM filter -> crash-atomic
    manifest merge with cursor stats -> zero-job HWM on the next run.
    Every protocol in the ingest path, one test."""
    import unittest.mock as mock

    from stripe_data_pipeline_spark import manifest_table as MT
    from stripe_data_pipeline_spark.sources.stripe_source import StripeDataSource

    spark.dataSource.register(StripeDataSource)
    import tempfile

    root = tempfile.mkdtemp(prefix="stripe_atomic_") + "/mart"

    def fetch(n_items):
        return (
            spark.read.format("stripe")
            .option("endpoint", "invoices")
            .option("fake_items", str(n_items))
            .load()
            .select("id", F.col("created").cast("long").alias("created"), "payload")
        )

    # day 1: 30 invoices land
    n1 = MT.incremental_merge_run_atomic(
        spark, fetch(30), root, keys=["id"], cursor_col="created"
    )
    assert n1 == 30 and MT.read_table(spark, root).count() == 30
    # day 2: backlog re-delivered plus 10 new — HWM (from manifest
    # stats, no scan) keeps the merge to the 10 genuinely new rows
    with mock.patch.object(MT, "read_table", side_effect=AssertionError("scan!")):
        hwm = MT.resolve_high_watermark(spark, root, "created")
    assert hwm is not None
    n2 = MT.incremental_merge_run_atomic(
        spark, fetch(40), root, keys=["id"], cursor_col="created"
    )
    assert n2 == 10
    mart = MT.read_table(spark, root)
    assert mart.count() == 40
    assert mart.select("id").distinct().count() == 40
    # third run with no new data is a no-op
    assert MT.incremental_merge_run_atomic(
        spark, fetch(40), root, keys=["id"], cursor_col="created"
    ) == 0


def test_atomic_pipeline_equals_plain(spark, tmp_path):
    """run_pipeline(atomic=True) lands every layer on the crash-atomic
    manifest sink — table CONTENTS must equal the plain-parquet run
    row for row, and each warehouse path must be a real manifest table
    with a commit log."""
    from stripe_data_pipeline_spark import manifest_table as MT

    raw = str(tmp_path / "raw")
    write_fixture(raw, n_invoices=14)
    plain = run_pipeline(spark, raw, str(tmp_path / "wh_plain"), LOADED_AT)
    atomic = run_pipeline(
        spark, raw, str(tmp_path / "wh_atomic"), LOADED_AT, atomic=True
    )
    assert set(plain) == set(atomic)

    def canon(df):
        # hive-partitioned parquet reads the partition column LAST,
        # the manifest sink keeps declared order — compare by name
        return sorted(repr(sorted(r.asDict().items())) for r in df.collect())

    for name in plain:
        assert canon(plain[name]) == canon(atomic[name]), name
    # every layer is a genuine manifest table with an audit log
    import os

    for name in atomic:
        root = os.path.join(str(tmp_path / "wh_atomic"), name)
        m = MT.read_manifest(root)
        assert m is not None and int(m["version"]) >= 1, name
        assert MT.history(root)[0]["type"] == "initial", name
    # idempotent rerun on the atomic sink too
    rerun = run_pipeline(
        spark, raw, str(tmp_path / "wh_atomic"), LOADED_AT, atomic=True
    )
    for name in plain:
        assert canon(rerun[name]) == canon(plain[name]), name


TABLES = (
    "stg_invoices",
    "stg_subscriptions",
    "stg_subscription_updates",
    "invoices",
    "invoice_line_items",
    "subscription_states",
    "deferred_revenue",
    "recognized_revenue",
)


def _write_drop(raw, invoices, subscriptions, events):
    import json
    import os

    os.makedirs(raw, exist_ok=True)
    for name, docs in (
        ("invoices", invoices),
        ("subscriptions", subscriptions),
        ("subscription_updates", events),
    ):
        with open(os.path.join(raw, f"{name}.json"), "w") as f:
            f.writelines(json.dumps(d) + "\n" for d in docs)


def _drops():
    """Day one, a day-two drop that re-delivers changed versions, and
    the final state (day one with day two's versions applied)."""
    import copy
    import random

    from stripe_data_pipeline_spark.sources.fixtures import (
        DAY,
        make_invoice,
        make_subscription,
        make_subscription_event,
    )

    rng = random.Random(7)
    inv = {f"in_{i}": make_invoice(i, rng) for i in range(16)}
    sub = {f"sub_{i}": make_subscription(i) for i in range(20)}
    evt = {f"evt_{i}": make_subscription_event(i) for i in range(30)}
    one = (list(inv.values()), list(sub.values()), list(evt.values()))

    changed = {k: copy.deepcopy(inv[k]) for k in ("in_1", "in_2", "in_3", "in_4", "in_5")}
    line = changed["in_1"]["lines"]["data"][0]  # period shrink: 10 -> 3 days
    line["period"]["end"] = line["period"]["start"] + 3 * DAY
    changed["in_2"]["lines"]["data"].pop()  # a removed line
    changed["in_3"]["currency"] = "gbp"  # a currency change
    for li in changed["in_3"]["lines"]["data"]:
        li["currency"] = "gbp"
    changed["in_4"]["created"] += 3 * DAY  # created moves to another date
    changed["in_5"].update(status="open", amount_paid=0)  # paid -> non-paid
    new = {f"in_{i}": make_invoice(i, rng) for i in range(16, 19)}
    sub_two = {"sub_4": dict(sub["sub_4"], status="canceled")}
    # evt_23 is sub_3's newest event and evt_15 sub_15's only one: both
    # move to another subscription
    evt_two = {
        "evt_23": dict(evt["evt_23"], data='{"object": {"id": "sub_7", "status": "past_due"}}'),
        "evt_15": dict(evt["evt_15"], data='{"object": {"id": "sub_2", "status": "canceled"}}'),
        "evt_30": make_subscription_event(30),
    }
    two = (
        [*changed.values(), inv["in_6"], *new.values()],  # in_6 re-delivered as is
        [*sub_two.values(), sub["sub_5"]],
        list(evt_two.values()),
    )
    final = (
        list((inv | changed | new).values()),
        list((sub | sub_two).values()),
        list((evt | evt_two).values()),
    )
    return one, two, final


def _canon(tables):
    # hive-partitioned parquet reads the partition column LAST, the
    # manifest sink keeps declared order — compare by name
    return {
        name: sorted(repr(sorted(r.asDict().items())) for r in tables[name].collect())
        for name in TABLES
    }


def _files(wh):
    import os

    return {
        os.path.relpath(os.path.join(d, n), wh)
        for d, _, names in os.walk(wh)
        for n in names
    }


@pytest.mark.parametrize("atomic", [False, True], ids=["plain", "atomic"])
def test_day_two_merge_equals_backfill_of_final_state(spark, tmp_path, atomic):
    """Change-set contract: day one + a day-two drop holding a period
    shrink, a removed line, a currency change, a moved ``created``, a
    paid invoice turned open and re-targeted events equals a backfill
    of the final state in all 8 tables — merged cleanly, and merged
    after a quality-gate abort left staging ahead of the marts. An
    identical re-run then writes nothing."""
    import shutil

    from stripe_data_pipeline_spark import manifest_table as MT
    from stripe_data_pipeline_spark.plans.pipeline import (
        PENDING_MARKER,
        PipelineMonitor,
        QualityGateError,
    )

    one, two, final = _drops()
    raw = {k: str(tmp_path / f"raw_{k}") for k in ("one", "two", "final")}
    for k, docs in zip(raw, (one, two, final)):
        _write_drop(raw[k], *docs)
    run = lambda r, wh, **kw: run_pipeline(  # noqa: E731
        spark, raw[r], str(tmp_path / wh), LOADED_AT, atomic=atomic, **kw
    )
    want = _canon(run("final", "backfill"))

    run("one", "merged")
    shutil.copytree(tmp_path / "merged", tmp_path / "aborted")
    got = run("two", "merged")
    assert _canon(got) == want
    assert got["invoices"].filter(F.col("invoice_id") == "in_5").first()["status"] == "open"
    assert got["deferred_revenue"].filter(F.col("invoice_id") == "in_5").count() == 0

    # the fixture trips the missing-period-end gate: staging lands, the
    # marts do not, and the next clean run catches them up
    with pytest.raises(QualityGateError):
        run("two", "aborted", monitor=PipelineMonitor(quality_gates=True))
    assert (tmp_path / "aborted" / PENDING_MARKER).exists()
    mon = PipelineMonitor()
    assert _canon(run("two", "aborted", monitor=mon)) == want
    assert [e["changed"] for e in mon.report()["layers"][:3]] == [0, 0, 0]
    assert not (tmp_path / "aborted" / PENDING_MARKER).exists()

    wh = str(tmp_path / "merged")
    files = _files(wh)
    versions = {t: MT.read_manifest(f"{wh}/{t}")["version"] for t in TABLES} if atomic else {}
    mon = PipelineMonitor()
    assert _canon(run("two", "merged", monitor=mon)) == want
    assert _files(wh) == files
    if atomic:
        assert {t: MT.read_manifest(f"{wh}/{t}")["version"] for t in TABLES} == versions
    rep = mon.report()["layers"]
    assert [e["changed"] for e in rep[:3]] == [0, 0, 0]
    assert all(e["status"] == "skipped" for e in rep)


def test_staging_dedup_is_deterministic(spark, tmp_path):
    """Two versions of one id in a drop: the winner is fixed by the
    whole row (here the one whose ``status`` text sorts last), whether
    the drop is read as one partition or four, so a re-run with other
    splits finds an empty change set."""
    import json
    import os
    import random

    from stripe_data_pipeline_spark.plans.pipeline import PipelineMonitor
    from stripe_data_pipeline_spark.sources.fixtures import make_invoice, write_fixture
    from stripe_data_pipeline_spark.sources.stripe_schema import INVOICE_SCHEMA

    raw, wh = str(tmp_path / "raw"), str(tmp_path / "wh")
    write_fixture(raw, n_invoices=12, duplicate_every=0)
    path = os.path.join(raw, "invoices.json")
    with open(path) as f:
        docs = f.readlines()
    paid = make_invoice(1, random.Random(0))
    assert paid["status"] == "paid"
    opened = json.dumps(dict(paid, status="open")) + "\n"
    with open(path, "w") as f:  # the losing version first, the winner last
        f.writelines([opened, *docs])

    size = os.path.getsize(path)

    def run_split(n_parts):
        conf = "spark.sql.files.maxPartitionBytes"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, str(-(-size // n_parts)))
        try:
            parts = spark.read.schema(INVOICE_SCHEMA).json(path).rdd.getNumPartitions()
            assert parts == n_parts
            mon = PipelineMonitor()
            t = run_pipeline(spark, raw, wh, LOADED_AT, monitor=mon)
            row = t["stg_invoices"].filter(F.col("id") == "in_1").collect()
            return row, mon.report()["layers"][0]
        finally:
            spark.conf.set(conf, prev)

    first, rep = run_split(1)
    assert [r["status"] for r in first] == ["paid"] and rep["changed"] == 12
    again, rep = run_split(4)
    assert again == first
    assert rep["changed"] == 0 and rep["status"] == "skipped"


@pytest.mark.parametrize("atomic", [False, True], ids=["plain", "atomic"])
def test_sink_entry_points_stay_patchable(spark, tmp_path, monkeypatch, atomic):
    """The benchmark's tracer (perfbench/trace.py::wrap_sinks) replaces
    the module attributes ``plans.pipeline.merge_upsert`` and
    ``manifest_table.merge_upsert_atomic`` and forwards ``(spark, path,
    df, *args, **kwargs)``. A fresh run must reach every table through
    them, and an identical re-run must call neither."""
    import os

    from stripe_data_pipeline_spark import manifest_table as MT
    from stripe_data_pipeline_spark.plans import pipeline

    calls = {"merge_upsert": [], "merge_upsert_atomic": []}

    def recording(mod, attr):
        fn = getattr(mod, attr)

        def call(spark, path, df, *args, **kwargs):
            calls[attr].append(os.path.basename(path))
            return fn(spark, path, df, *args, **kwargs)

        monkeypatch.setattr(mod, attr, call)

    recording(pipeline, "merge_upsert")
    recording(MT, "merge_upsert_atomic")
    raw, wh = str(tmp_path / "raw"), str(tmp_path / "wh")
    write_fixture(raw, n_invoices=6)
    used, unused = (
        ("merge_upsert_atomic", "merge_upsert") if atomic
        else ("merge_upsert", "merge_upsert_atomic")
    )
    run_pipeline(spark, raw, wh, LOADED_AT, atomic=atomic)
    assert sorted(calls[used]) == sorted(TABLES) and calls[unused] == []
    calls[used].clear()
    run_pipeline(spark, raw, wh, LOADED_AT, atomic=atomic)
    assert calls == {"merge_upsert": [], "merge_upsert_atomic": []}
