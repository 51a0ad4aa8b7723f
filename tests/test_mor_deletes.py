"""Merge-on-read delete invariants (manifest_table.delete_where_mor /
apply_deletes): zero-rewrite commits, read-path anti-join at every
version, the resurrection guard on merge/update, materialization
touching only partitions that hold deleted keys, vacuum safety for
referenced delete files, and clone carrying pending deletes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stripe_data_pipeline_spark import manifest_table as MT


def _mk(spark, root, rows=None):
    rows = rows or [
        (1, "a", 10.0),
        (2, "a", 20.0),
        (3, "b", 30.0),
        (4, "b", 40.0),
        (5, "c", 50.0),
    ]
    df = spark.createDataFrame(rows, "id long, part string, v double")
    MT.merge_upsert_atomic(spark, root, df, keys=["id"], partition_by="part")


def test_mor_delete_rewrites_nothing_and_hides_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    before = MT.read_manifest(root)
    n = MT.delete_where_mor(spark, root, F.col("v") >= 30.0, keys=["id"])
    assert n == 3
    after = MT.read_manifest(root)
    # zero-rewrite: the data parts mapping is IDENTICAL
    assert after["parts"] == before["parts"]
    assert len(after["deletes"]) == 1
    ids = {r["id"] for r in MT.read_table(spark, root).collect()}
    assert ids == {1, 2}
    # time travel to the pre-delete snapshot still sees all rows
    ids_v1 = {
        r["id"] for r in MT.read_table(spark, root, version=1).collect()
    }
    assert ids_v1 == {1, 2, 3, 4, 5}


def test_mor_deletes_accumulate_and_key_mismatch_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    assert MT.delete_where_mor(spark, root, F.col("id") == 1, keys=["id"]) == 1
    assert MT.delete_where_mor(spark, root, F.col("id") == 3, keys=["id"]) == 1
    m = MT.read_manifest(root)
    assert len(m["deletes"]) == 2
    ids = {r["id"] for r in MT.read_table(spark, root).collect()}
    assert ids == {2, 4, 5}
    with pytest.raises(ValueError, match="one key set"):
        MT.delete_where_mor(spark, root, F.col("v") > 0, keys=["part"])
    # an already-hidden row matches nothing: no new commit
    v = int(m["version"])
    assert MT.delete_where_mor(spark, root, F.col("id") == 1, keys=["id"]) == 0
    assert int(MT.read_manifest(root)["version"]) == v


def test_merge_and_update_refuse_pending_deletes(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    MT.delete_where_mor(spark, root, F.col("id") == 2, keys=["id"])
    batch = spark.createDataFrame(
        [(2, "a", 99.0)], "id long, part string, v double"
    )
    with pytest.raises(ValueError, match="pending merge-on-read"):
        MT.merge_upsert_atomic(
            spark, root, batch, keys=["id"], partition_by="part"
        )
    with pytest.raises(ValueError, match="pending merge-on-read"):
        MT.update_where(spark, root, F.col("id") == 1, {"v": F.lit(0.0)})
    # after materialization the same merge succeeds and re-inserts
    assert MT.apply_deletes(spark, root) == 1
    MT.merge_upsert_atomic(
        spark, root, batch, keys=["id"], partition_by="part"
    )
    rows = {r["id"]: r["v"] for r in MT.read_table(spark, root).collect()}
    assert rows[2] == 99.0


def test_apply_deletes_touches_only_hit_partitions(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    MT.delete_where_mor(spark, root, F.col("part") == "a", keys=["id"])
    before = MT.read_manifest(root)["parts"]
    assert MT.apply_deletes(spark, root) == 2
    m = MT.read_manifest(root)
    assert "deletes" not in m or not m["deletes"]
    # partition a rewritten away entirely (emptied); b and c untouched
    assert "a" not in m["parts"]
    assert m["parts"]["b"] == before["b"]
    assert m["parts"]["c"] == before["c"]
    ids = {r["id"] for r in MT.read_table(spark, root).collect()}
    assert ids == {3, 4, 5}
    assert MT.apply_deletes(spark, root) == 0  # idempotent no-op


def test_vacuum_spares_referenced_delete_files(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    MT.delete_where_mor(spark, root, F.col("id") == 1, keys=["id"])
    rel = MT.read_manifest(root)["deletes"][0]
    MT.vacuum(root, retain_history=0, grace_sec=0.0)
    assert os.path.isdir(os.path.join(root, rel))
    ids = {r["id"] for r in MT.read_table(spark, root).collect()}
    assert ids == {2, 3, 4, 5}
    MT.apply_deletes(spark, root)
    MT.vacuum(root, retain_history=0, grace_sec=0.0)
    assert not os.path.isdir(os.path.join(root, rel))


def test_clone_carries_pending_deletes(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk(spark, src)
    MT.delete_where_mor(spark, src, F.col("id") <= 2, keys=["id"])
    MT.clone_table(src, dst)
    ids = {r["id"] for r in MT.read_table(spark, dst).collect()}
    assert ids == {3, 4, 5}
    # clone materializes independently; source unchanged
    assert MT.apply_deletes(spark, dst) == 2
    assert len(MT.read_manifest(src)["deletes"]) == 1
    ids_src = {r["id"] for r in MT.read_table(spark, src).collect()}
    assert ids_src == {3, 4, 5}


def test_timestamp_as_of_time_travel(spark, tmp_path):
    import time

    root = str(tmp_path / "t")
    _mk(spark, root)  # v1
    t_between = int(time.time() * 1000)
    time.sleep(0.05)
    batch = spark.createDataFrame(
        [(9, "c", 90.0)], "id long, part string, v double"
    )
    MT.merge_upsert_atomic(
        spark, root, batch, keys=["id"], partition_by="part"
    )  # v2
    ids_then = {
        r["id"]
        for r in MT.read_table(spark, root, as_of_ms=t_between).collect()
    }
    assert ids_then == {1, 2, 3, 4, 5}
    ids_now = {
        r["id"]
        for r in MT.read_table(
            spark, root, as_of_ms=int(time.time() * 1000)
        ).collect()
    }
    assert ids_now == {1, 2, 3, 4, 5, 9}
    hist = MT.history(root)
    assert all(h["committed_at_ms"] is not None for h in hist)
    assert MT.version_as_of(root, t_between) == 1
    with pytest.raises(ValueError, match="no retained commit"):
        MT.version_as_of(root, hist[0]["committed_at_ms"] - 10_000)
    with pytest.raises(ValueError, match="not both"):
        MT.read_table(spark, root, version=1, as_of_ms=t_between)


# --- ADVICE r9: commits that must carry pending deletes forward -----------


def test_compaction_preserves_pending_deletes(spark, tmp_path):
    """Compaction rewrites raw files (deleted rows still physically
    present), so dropping the manifest's delete list would resurrect
    them on the next read — both lock modes must carry it (ADVICE r9,
    high)."""
    root = str(tmp_path / "t")
    _mk(spark, root)
    MT.delete_where_mor(spark, root, F.col("id") == 3, keys=["id"])
    rel = MT.read_manifest(root)["deletes"][0]
    MT.compact_partition(spark, root, "b")  # locked path
    m = MT.read_manifest(root)
    assert m["deletes"] == [rel] and m["delete_keys"] == ["id"]
    assert {r["id"] for r in MT.read_table(spark, root).collect()} == {
        1, 2, 4, 5,
    }
    MT.compact_partition(spark, root, "c", concurrency="occ")  # occ path
    m = MT.read_manifest(root)
    assert m["deletes"] == [rel]
    # vacuum after compaction must still spare the carried delete file
    MT.vacuum(root, retain_history=0, grace_sec=0.0)
    assert os.path.isdir(os.path.join(root, rel))
    assert {r["id"] for r in MT.read_table(spark, root).collect()} == {
        1, 2, 4, 5,
    }


def test_maintain_preserves_pending_deletes(spark, tmp_path):
    """maintain() = compactions + vacuum under one lock; with pending
    MOR deletes the pass must neither drop the delete list nor reap
    the delete file."""
    root = str(tmp_path / "t")
    _mk(spark, root)
    # force partition b over the file threshold so maintain compacts it
    extra = spark.createDataFrame(
        [(i, "b", float(i)) for i in range(10, 18)],
        "id long, part string, v double",
    ).repartition(8)
    MT.merge_upsert_atomic(spark, root, extra, keys=["id"], partition_by="part")
    MT.delete_where_mor(spark, root, F.col("id") == 10, keys=["id"])
    rel = MT.read_manifest(root)["deletes"][0]
    out = MT.maintain(spark, root, max_files_per_partition=2, retain_history=0,
                      grace_sec=0.0)
    assert "b" in out["compacted"]
    m = MT.read_manifest(root)
    assert m["deletes"] == [rel]
    assert os.path.isdir(os.path.join(root, rel))
    ids = {r["id"] for r in MT.read_table(spark, root).collect()}
    assert 10 not in ids and 11 in ids


def test_delete_where_and_delete_partitions_preserve_pending_deletes(
    spark, tmp_path
):
    """delete_where rewrites only predicate-touched partitions and
    delete_partitions rewrites nothing — in both cases untouched dirs
    still physically hold MOR-deleted rows, so the delete list must
    ride (ADVICE r9, high)."""
    root = str(tmp_path / "t")
    _mk(spark, root)
    MT.delete_where_mor(spark, root, F.col("id") == 3, keys=["id"])  # in b
    # copy-on-write delete touches only partition a; b untouched
    assert MT.delete_where(spark, root, F.col("id") == 1) == 1
    m = MT.read_manifest(root)
    assert len(m.get("deletes") or []) == 1
    assert {r["id"] for r in MT.read_table(spark, root).collect()} == {2, 4, 5}
    # metadata-only partition drop of c; b still untouched
    assert MT.delete_partitions(spark, root, ["c"]) == ["c"]
    m = MT.read_manifest(root)
    assert len(m.get("deletes") or []) == 1
    assert {r["id"] for r in MT.read_table(spark, root).collect()} == {2, 4}


def test_restore_preserves_pending_deletes(spark, tmp_path):
    """RESTORE to a snapshot taken while MOR deletes were pending must
    re-point the delete files too (ADVICE r9, medium) — and the change
    feed across the restore shows the re-deleted rows."""
    root = str(tmp_path / "t")
    _mk(spark, root)  # v1
    MT.delete_where_mor(spark, root, F.col("id") >= 4, keys=["id"])  # v2
    MT.apply_deletes(spark, root)  # v3: deletes cleared, rows gone
    MT.restore_version(spark, root, 2)  # v4: back to pending-delete state
    m = MT.read_manifest(root)
    assert len(m["deletes"]) == 1 and m["delete_keys"] == ["id"]
    assert {r["id"] for r in MT.read_table(spark, root).collect()} == {1, 2, 3}
    # restore further back to v1: no deletes pending at all
    MT.restore_version(spark, root, 1)
    m = MT.read_manifest(root)
    assert not m.get("deletes")
    assert {r["id"] for r in MT.read_table(spark, root).collect()} == {
        1, 2, 3, 4, 5,
    }


def test_read_changes_sees_mor_deletes(spark, tmp_path):
    """A delete_where_mor commit changes no data dir, but the change
    feed must still report its rows as deletes; the later
    apply_deletes (physically removing rows already logically dead)
    must produce an EMPTY feed (ADVICE r9, medium)."""
    root = str(tmp_path / "t")
    _mk(spark, root)  # v1
    MT.delete_where_mor(spark, root, F.col("v") >= 30.0, keys=["id"])  # v2
    feed = MT.read_changes(spark, root, 1, 2).collect()
    assert {(r["_change_type"], r["id"]) for r in feed} == {
        ("delete", 3), ("delete", 4), ("delete", 5),
    }
    MT.apply_deletes(spark, root)  # v3
    assert MT.read_changes(spark, root, 2, 3).count() == 0
    # spanning both: same three logical deletes, exactly once
    span = MT.read_changes(spark, root, 1, 3).collect()
    assert {(r["_change_type"], r["id"]) for r in span} == {
        ("delete", 3), ("delete", 4), ("delete", 5),
    }
    # restore direction: un-deleting surfaces as inserts
    MT.restore_version(spark, root, 2)  # v4, deletes pending again
    MT.restore_version(spark, root, 1)  # v5, deletes cleared, rows back
    back = MT.read_changes(spark, root, 4, 5).collect()
    assert {(r["_change_type"], r["id"]) for r in back} == {
        ("insert", 3), ("insert", 4), ("insert", 5),
    }


def test_locked_merge_rechecks_pending_deletes(spark, tmp_path):
    """The pending-delete guard must hold INSIDE the writer lock (the
    entry pre-check is unlocked and racy — ADVICE r9, low): the locked
    merge core re-checks, and _can_rebase refuses to rebase across a
    delete-list change."""
    root = str(tmp_path / "t")
    _mk(spark, root)
    base = MT.read_manifest(root)
    MT.delete_where_mor(spark, root, F.col("id") == 2, keys=["id"])
    current = MT.read_manifest(root)
    batch = spark.createDataFrame(
        [(7, "a", 70.0)], "id long, part string, v double"
    )
    # simulate the race: call the locked core directly (as if the
    # unlocked pre-check had passed before the delete committed)
    with pytest.raises(ValueError, match="pending merge-on-read"):
        MT._merge_upsert_atomic_locked(
            spark, root, batch, keys=["id"], partition_by="part"
        )
    # and the OCC rebase validator independently refuses
    plan = {"touched": set(), "scope": batch.select("id").distinct()}
    assert not MT._can_rebase(spark, root, base, current, plan)
