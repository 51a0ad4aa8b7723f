"""Crash-atomicity tests for the manifest-committed merge sink
(VERDICT r3 task #5). The reference's MERGE is atomic
(README.md:110-129); this kills the writer at EVERY boundary in the
commit path (the ``_fault`` hook raises mid-merge, exactly where a
SIGKILL would land) and asserts a reader always sees the complete old
or complete new snapshot — never a mix, never a broken table."""

from __future__ import annotations

import os

import pytest

from stripe_data_pipeline_spark import manifest_table as MT


def _rows(spark, data):
    return spark.createDataFrame(data, "id long, day string, v double")


def _read_sorted(spark, root):
    return [
        (r["id"], r["day"], r["v"])
        for r in MT.read_table(spark, root).orderBy("id", "day").collect()
    ]


class Kill(RuntimeError):
    """Stands in for the process dying (SIGKILL) at a fault point."""


def _kill_at(point: str, skip: int = 0):
    """Fault injector: raise at the ``skip``-th occurrence of
    ``point`` — `moved_one` fires once per partition dir, so skip
    lets the test die between the first and second move (the exact
    window where the old swap-based sink exposes a mixed table)."""
    state = {"n": 0}

    def fault(name: str):
        if name == point:
            if state["n"] == skip:
                raise Kill(point)
            state["n"] += 1

    return fault


OLD = [(1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0)]
UPD = [(3, "b", 30.0), (4, "c", 4.0)]
NEW = [(1, "a", 1.0), (2, "b", 2.0), (3, "b", 30.0), (4, "c", 4.0)]


@pytest.fixture()
def seeded(spark, tmp_path):
    root = str(tmp_path / "mt")
    MT.merge_upsert_atomic(spark, root, _rows(spark, OLD), ["id"], "day")
    return root


@pytest.mark.parametrize(
    "point,skip",
    [
        ("staged", 0),  # staging written, nothing moved
        ("moved_one", 0),  # died before the first versioned-dir move landed...
        ("moved_one", 1),  # ...and between the first and second move
        ("manifest_tmp_written", 0),  # new manifest written but NOT renamed
    ],
)
def test_kill_before_commit_reader_sees_complete_old(spark, seeded, point, skip):
    with pytest.raises(Kill):
        MT.merge_upsert_atomic(
            spark, seeded, _rows(spark, UPD), ["id"], "day",
            _fault=_kill_at(point, skip),
        )
    # the half-finished merge must be invisible: complete OLD snapshot
    assert _read_sorted(spark, seeded) == OLD
    # recovery is just rerunning the merge (idempotent), orphans vacuum away
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    assert _read_sorted(spark, seeded) == NEW
    removed = MT.vacuum(seeded, grace_sec=0)
    assert removed  # the crashed attempt left unreferenced dirs
    assert _read_sorted(spark, seeded) == NEW  # vacuum never touches referenced data


def test_kill_after_commit_reader_sees_complete_new(spark, seeded):
    with pytest.raises(Kill):
        MT.merge_upsert_atomic(
            spark, seeded, _rows(spark, UPD), ["id"], "day",
            _fault=_kill_at("committed"),
        )
    assert _read_sorted(spark, seeded) == NEW


def test_kill_during_initial_write_leaves_no_table(spark, tmp_path):
    root = str(tmp_path / "mt0")
    with pytest.raises(Kill):
        MT.merge_upsert_atomic(
            spark, root, _rows(spark, OLD), ["id"], "day",
            _fault=_kill_at("staged"),
        )
    assert MT.read_manifest(root) is None
    with pytest.raises(FileNotFoundError):
        MT.read_table(spark, root)
    MT.merge_upsert_atomic(spark, root, _rows(spark, OLD), ["id"], "day")
    assert _read_sorted(spark, root) == OLD


def test_merge_semantics_match_plain_sink(spark, tmp_path):
    """Same S6 contract as merge_upsert: idempotent, key-moves displace
    stale rows across partitions, NULL partition values survive."""
    root = str(tmp_path / "mt1")
    MT.merge_upsert_atomic(spark, root, _rows(spark, OLD), ["id"], "day")
    MT.merge_upsert_atomic(spark, root, _rows(spark, OLD), ["id"], "day")
    assert _read_sorted(spark, root) == OLD  # idempotent re-delivery
    # key 3 moves b -> c; its stale row in day=b must be displaced
    mv = _rows(spark, [(3, "c", 3.5)])
    MT.merge_upsert_atomic(spark, root, mv, ["id"], "day")
    assert _read_sorted(spark, root) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.5)]
    # NULL partition value round-trips (__HIVE_DEFAULT_PARTITION__)
    MT.merge_upsert_atomic(spark, root, _rows(spark, [(5, None, 9.0)]), ["id"], "day")
    got = _read_sorted(spark, root)
    assert (5, None, 9.0) in got and len(got) == 4


def test_emptied_partition_disappears(spark, tmp_path):
    root = str(tmp_path / "mt2")
    MT.merge_upsert_atomic(spark, root, _rows(spark, [(1, "a", 1.0)]), ["id"], "day")
    # the only row of day=a moves to day=b: partition a must vanish
    MT.merge_upsert_atomic(spark, root, _rows(spark, [(1, "b", 2.0)]), ["id"], "day")
    assert _read_sorted(spark, root) == [(1, "b", 2.0)]
    m = MT.read_manifest(root)
    assert set(m["parts"]) == {"b"}


def test_unpartitioned_and_hwm_run(spark, tmp_path):
    root = str(tmp_path / "mt3")
    src = _rows(spark, OLD)
    n = MT.incremental_merge_run_atomic(spark, src, root, ["id"], cursor_col="v")
    assert n == 3
    # re-run: everything <= HWM, no-op
    assert MT.incremental_merge_run_atomic(spark, src, root, ["id"], "v") == 0
    late = _rows(spark, [(4, "c", 99.0)])
    assert MT.incremental_merge_run_atomic(
        spark, src.unionByName(late), root, ["id"], "v"
    ) == 1
    assert _read_sorted(spark, root) == OLD + [(4, "c", 99.0)]


def test_partition_values_prunes_driver_side(spark, seeded):
    got = MT.read_table(spark, seeded, partition_values=["b"])
    assert sorted((r["id"], r["day"]) for r in got.collect()) == [(2, "b"), (3, "b")]
    # pruning happens at the manifest, before any Spark file listing:
    # the scan's input paths contain ONLY the b-partition dir
    files = got.inputFiles()
    assert files and all("/parts/b-" in f for f in files)


def test_manifest_versions_monotone(spark, seeded):
    assert MT.read_manifest(seeded)["version"] == 1
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    assert MT.read_manifest(seeded)["version"] == 2


def test_vacuum_reaps_superseded_versions(spark, seeded):
    before = MT.read_manifest(seeded)["parts"]
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    removed = MT.vacuum(seeded, grace_sec=0)
    # day=b was rewritten: its old dir is superseded and reaped;
    # day=a was untouched: its dir survives verbatim
    assert before["b"] in removed
    assert MT.read_manifest(seeded)["parts"]["a"] == before["a"]
    assert _read_sorted(spark, seeded) == NEW
    assert os.path.isdir(os.path.join(seeded, before["a"]))


def test_time_travel_reads_old_snapshot(spark, seeded):
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    assert _read_sorted(spark, seeded) == NEW
    v1 = MT.read_table(spark, seeded, version=1).orderBy("id", "day").collect()
    assert [(r["id"], r["day"], r["v"]) for r in v1] == OLD
    # a never-committed version (incl. a crashed writer's history
    # orphan) is not readable
    with pytest.raises(FileNotFoundError):
        MT.read_table(spark, seeded, version=9)


def test_vacuum_retention_window(spark, seeded):
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    # retain the previous snapshot: time travel to v1 must survive vacuum
    MT.vacuum(seeded, retain_history=1, grace_sec=0)
    assert [
        (r["id"], r["day"], r["v"])
        for r in MT.read_table(spark, seeded, version=1).orderBy("id", "day").collect()
    ] == OLD
    # default vacuum drops history beyond the current version
    removed = MT.vacuum(seeded, grace_sec=0)
    assert any(r.startswith("history/") for r in removed)
    with pytest.raises(Exception):
        MT.read_table(spark, seeded, version=1).collect()
    assert _read_sorted(spark, seeded) == NEW


def test_compact_partition_is_atomic_commit(spark, tmp_path):
    root = str(tmp_path / "mtc")
    many = _rows(spark, [(i, "a", float(i)) for i in range(40)]).repartition(8)
    MT.merge_upsert_atomic(spark, root, many, ["id"], "day")
    rel_before = MT.read_manifest(root)["parts"]["a"]
    n_files_before = len(
        [f for f in os.listdir(os.path.join(root, rel_before)) if f.endswith(".parquet")]
    )
    assert n_files_before > 1
    n = MT.compact_partition(spark, root, "a", target_rows_per_file=1000)
    assert n == 1
    m = MT.read_manifest(root)
    assert m["version"] == 2 and m["parts"]["a"] != rel_before
    got = sorted(r["id"] for r in MT.read_table(spark, root).collect())
    assert got == list(range(40))
    # old layout is still time-travelable until vacuumed
    assert MT.read_table(spark, root, version=1).count() == 40


def test_schema_evolution_adds_column(spark, tmp_path):
    root = str(tmp_path / "mte")
    MT.merge_upsert_atomic(spark, root, _rows(spark, OLD), ["id"], "day")
    evolved = spark.createDataFrame(
        [(4, "c", 4.0, "eur")], "id long, day string, v double, currency string"
    )
    MT.merge_upsert_atomic(spark, root, evolved, ["id"], "day")
    got = MT.read_table(spark, root).orderBy("id").collect()
    assert [r["currency"] for r in got] == [None, None, None, "eur"]
    assert [(r["id"], r["v"]) for r in got] == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    # untouched partitions' old files read the new column as NULL via
    # the explicit manifest schema — no mergeSchema footer pass
    assert "currency" in MT.read_table(spark, root, partition_values=["a"]).columns


# --- model-based property test: random op sequences vs a dict model ---

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# ops: ("merge", rows, crash_point|None) | ("compact", pv) | ("vacuum",)
_row = st.tuples(
    st.integers(min_value=0, max_value=6),          # id
    st.sampled_from(["a", "b", None]),              # partition day
    st.integers(min_value=0, max_value=99),         # value
)
_merge = st.tuples(
    st.just("merge"),
    st.lists(_row, min_size=1, max_size=4),
    st.sampled_from([None, "staged", "moved_one", "manifest_tmp_written"]),
)
_ops = st.lists(
    st.one_of(_merge, st.just(("compact",)), st.just(("vacuum",))),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=_ops)
def test_random_op_sequences_match_dict_model(spark, tmp_path_factory, ops):
    """Whatever interleaving of merges (some crashing), compactions and
    vacuums runs, the table must always read back EXACTLY what the
    dict-of-committed-upserts model predicts — crashes change nothing,
    maintenance changes nothing."""
    root = str(tmp_path_factory.mktemp("mtprop") / "t")
    model: dict[int, tuple] = {}
    for op in ops:
        if op[0] == "merge":
            _, rows, crash = op
            batch = spark.createDataFrame(
                [(i, d, float(v)) for i, d, v in rows],
                "id long, day string, v double",
            ).dropDuplicates(["id"])
            kept = {r["id"]: (r["id"], r["day"], r["v"]) for r in batch.collect()}
            if crash is None:
                MT.merge_upsert_atomic(spark, root, batch, ["id"], "day")
                model.update(kept)
            else:
                with pytest.raises(Kill):
                    MT.merge_upsert_atomic(
                        spark, root, batch, ["id"], "day",
                        _fault=_kill_at(crash),
                    )
                # crashed pre-commit: model unchanged
        elif op[0] == "compact" and MT.read_manifest(root):
            parts = MT.read_manifest(root)["parts"]
            if parts:
                pv = sorted(parts)[0]
                val = None if pv == "__HIVE_DEFAULT_PARTITION__" else pv
                MT.compact_partition(spark, root, val, 1000)
        elif op[0] == "vacuum":
            MT.vacuum(root, grace_sec=0)
        # invariant after EVERY op: table == model
        if model or MT.read_manifest(root):
            got = sorted(
                (r["id"], r["day"], r["v"])
                for r in MT.read_table(spark, root).collect()
            )
            assert got == sorted(model.values())


def test_reader_resolved_before_merge_survives_commit(spark, seeded):
    """Snapshot isolation for in-flight readers: a DataFrame resolved
    against the old manifest still collects correctly after a new
    commit, because superseded dirs are immutable until vacuum()."""
    old_df = MT.read_table(spark, seeded)  # resolves v1 paths lazily
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    assert sorted((r["id"], r["day"], r["v"]) for r in old_df.collect()) == OLD
    assert _read_sorted(spark, seeded) == NEW  # fresh resolve sees v2


def test_stats_recorded_and_hwm_resolves_without_scan(spark, tmp_path):
    root = str(tmp_path / "mts")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, OLD), ["id"], "day", stats_cols=["v", "id"]
    )
    m = MT.read_manifest(root)
    assert m["stats"]["a"]["v"] == [1.0, 1.0]
    assert m["stats"]["b"]["v"] == [2.0, 3.0] and m["stats"]["b"]["id"] == [2, 3]
    # zero-Spark-job proof: HWM must come from the manifest alone even
    # when scanning is impossible (read_table sabotaged)
    import unittest.mock as mock

    with mock.patch.object(
        MT, "read_table", side_effect=AssertionError("scanned!")
    ):
        assert MT.resolve_high_watermark(spark, root, "v") == 3.0
    # untouched partitions carry stats forward; touched recompute
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, UPD), ["id"], "day", stats_cols=["v", "id"]
    )
    m2 = MT.read_manifest(root)
    assert m2["stats"]["a"] == m["stats"]["a"]
    assert m2["stats"]["b"]["v"] == [2.0, 30.0]
    assert m2["stats"]["c"]["v"] == [4.0, 4.0]
    with mock.patch.object(MT, "read_table", side_effect=AssertionError):
        assert MT.resolve_high_watermark(spark, root, "v") == 30.0


def test_stats_filter_skips_dirs(spark, tmp_path):
    root = str(tmp_path / "mtf")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, OLD), ["id"], "day", stats_cols=["v"]
    )
    got = MT.read_table(spark, root, stats_filter={"v": (2.5, None)})
    # day=a has v in [1,1]: its dir cannot contain v >= 2.5 -> skipped
    files = got.inputFiles()
    assert files and all("/parts/b-" in f for f in files)
    assert sorted(r["id"] for r in got.filter("v >= 2.5").collect()) == [3]
    # dirs without stats are conservatively kept
    MT.merge_upsert_atomic(spark, root, _rows(spark, UPD), ["id"], "day")  # no stats
    all_rows = MT.read_table(spark, root, stats_filter={"v": (2.5, None)})
    assert sorted(r["id"] for r in all_rows.filter("v >= 2.5").collect()) == [3, 4]


def test_merge_without_stats_cols_keeps_untouched_stats(spark, tmp_path):
    """A merge that records no stats drops only the entries of the dirs
    it rewrote; untouched dirs keep theirs and keep skipping."""
    import unittest.mock as mock

    root = str(tmp_path / "mtk")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, OLD), ["id"], "day", stats_cols=["v"]
    )
    before = MT.read_manifest(root)
    MT.merge_upsert_atomic(spark, root, _rows(spark, UPD), ["id"], "day")
    m = MT.read_manifest(root)
    # UPD rewrites b and adds c; a is untouched
    assert m["parts"]["a"] == before["parts"]["a"]
    assert m["stats"]["a"] == before["stats"]["a"]
    assert m["file_stats"]["a"] == before["file_stats"]["a"]
    assert "b" not in m["stats"] and "c" not in m["stats"]
    got = MT.read_table(spark, root, stats_filter={"v": (2.5, None)})
    assert not any("/parts/a-" in f for f in got.inputFiles())
    assert sorted(r["id"] for r in got.filter("v >= 2.5").collect()) == [3, 4]
    # b and c lack stats: the watermark falls back to a scan
    with mock.patch.object(MT, "read_table", wraps=MT.read_table) as scan:
        assert MT.resolve_high_watermark(spark, root, "v") == 30.0
    assert scan.called


def test_occ_compaction_keeps_bloom_sidecar(spark, tmp_path):
    root = str(tmp_path / "mtb")
    MT.merge_upsert_atomic(
        spark, root, spark.range(50).repartition(4), keys=["id"],
        bloom_cols=["id"],
    )
    assert MT.compact_partition(spark, root, None, concurrency="occ") == 1
    [rel] = MT.read_manifest(root)["parts"].values()
    assert os.path.exists(os.path.join(root, rel, MT._BLOOM_SIDECAR))
    t = MT.read_table(spark, root, stats_filter={"id": (7, 7)})
    assert [r["id"] for r in t.filter("id = 7").collect()] == [7]


def test_incremental_run_uses_manifest_hwm(spark, tmp_path):
    root = str(tmp_path / "mth")
    src = _rows(spark, OLD)
    assert MT.incremental_merge_run_atomic(spark, src, root, ["id"], "v", "day") == 3
    import unittest.mock as mock

    # second run: HWM from stats; the no-op path never scans the table
    with mock.patch.object(MT, "read_table", side_effect=AssertionError("scanned!")):
        assert (
            MT.incremental_merge_run_atomic(spark, src, root, ["id"], "v", "day") == 0
        )
    assert _read_sorted(spark, root) == OLD


def test_compaction_preserves_stats(spark, tmp_path):
    root = str(tmp_path / "mtcs")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, OLD), ["id"], "day", stats_cols=["v"]
    )
    MT.compact_partition(spark, root, "b", 1000)
    m = MT.read_manifest(root)
    assert m["stats"]["b"]["v"] == [2.0, 3.0]
    import unittest.mock as mock

    with mock.patch.object(MT, "read_table", side_effect=AssertionError):
        assert MT.resolve_high_watermark(spark, root, "v") == 3.0


def test_incremental_agg_run_folds_deltas(spark, tmp_path):
    root = str(tmp_path / "agg")
    src1 = spark.createDataFrame(
        [("a", 10, 1), ("a", 20, 2), ("b", 5, 3)], "g string, v long, ts long"
    )
    n = MT.incremental_agg_run(
        spark, src1, root, ["g"], {"total": "v"}, "ts", count_col="cnt"
    )
    assert n == 3
    # second run re-delivers everything + new rows incl. a NEW group
    src2 = src1.unionByName(
        spark.createDataFrame([("a", 7, 4), ("c", 1, 5)], "g string, v long, ts long")
    )
    assert MT.incremental_agg_run(
        spark, src2, root, ["g"], {"total": "v"}, "ts", count_col="cnt"
    ) == 2  # only the strictly-new rows folded
    got = {
        r["g"]: (r["cnt"], r["total"])
        for r in MT.read_table(spark, root).collect()
    }
    assert got == {"a": (3, 37), "b": (1, 5), "c": (1, 1)}
    # idempotent rerun is a no-op, and HWM resolves from manifest stats
    import unittest.mock as mock

    with mock.patch.object(MT, "read_table", side_effect=AssertionError("scan!")):
        assert MT.resolve_high_watermark(spark, root, "__hwm") == 5
    assert MT.incremental_agg_run(
        spark, src2, root, ["g"], {"total": "v"}, "ts", count_col="cnt"
    ) == 0


def test_read_changes_diffs_only_touched_dirs(spark, seeded):
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    ch = MT.read_changes(spark, seeded, from_version=1, to_version=2)
    got = sorted(
        (r["_change_type"], r["id"], r["day"], r["v"]) for r in ch.collect()
    )
    # update of 3 = delete(old)+insert(new); 4 is a pure insert; 1 and 2
    # are unchanged (2 lives in the touched b-partition but cancels in
    # the row diff; 1's a-partition dir is identical and never scanned)
    assert got == [
        ("delete", 3, "b", 3.0),
        ("insert", 3, "b", 30.0),
        ("insert", 4, "c", 4.0),
    ]
    # manifest pruning: the untouched a-partition contributes no input
    files = ch.inputFiles()
    assert files and not any("/parts/a-" in f for f in files)


def test_writer_lock_fails_fast_and_breaks_stale(spark, seeded):
    import os as _os
    import time as _time

    lock = _os.path.join(seeded, MT._LOCK)
    with open(lock, "w") as f:
        f.write("424242")  # a live second writer
    with pytest.raises(MT.ConcurrentWriterError):
        MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    assert _read_sorted(spark, seeded) == OLD  # nothing committed
    # a stale lock (dead writer) is broken and the merge proceeds
    _os.utime(lock, (_time.time() - 7200, _time.time() - 7200))
    MT.merge_upsert_atomic(spark, seeded, _rows(spark, UPD), ["id"], "day")
    assert _read_sorted(spark, seeded) == NEW
    assert not _os.path.exists(lock)  # released on exit


def test_history_and_maintain(spark, tmp_path):
    root = str(tmp_path / "mthx")
    # many-file partition via repartitioned merges
    b1 = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(30)], "id long, day string, v double"
    ).repartition(6)
    MT.merge_upsert_atomic(spark, root, b1, ["id"], "day")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(100, "b", 1.0)]), ["id"], "day"
    )
    hist = MT.history(root)
    assert [(h["version"], h["type"]) for h in hist] == [(1, "initial"), (2, "merge")]
    assert hist[1]["touched"] == ["b"]
    report = MT.maintain(spark, root, max_files_per_partition=2, retain_history=0)
    assert report["compacted"] == ["a"]  # 6-file partition compacted; b untouched
    hist2 = MT.history(root)
    assert hist2[-1]["type"] == "compact" and hist2[-1]["touched"] == ["a"]
    got = sorted(r["id"] for r in MT.read_table(spark, root).collect())
    assert got == list(range(30)) + [100]
    # second maintain pass is a no-op for compaction
    assert MT.maintain(spark, root, max_files_per_partition=2)["compacted"] == []


def test_file_level_stats_prune_individual_files(spark, tmp_path):
    """Range-sorted files within a partition + per-file footer stats in
    the manifest: a narrow stats_filter must keep roughly ONE file, not
    the whole partition."""
    root = str(tmp_path / "mtfile")
    df = (
        spark.createDataFrame(
            [(i, "a", float(i)) for i in range(400)], "id long, day string, v double"
        )
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    MT.merge_upsert_atomic(spark, root, df, ["id"], "day", stats_cols=["id"])
    m = MT.read_manifest(root)
    assert m["file_stats"]["a"]  # per-file ranges recorded
    narrow = MT.read_table(spark, root, stats_filter={"id": (10, 20)})
    files = narrow.inputFiles()
    assert len(files) == 1, files  # 4 range-sorted files -> one survives
    assert sorted(r["id"] for r in narrow.filter("id BETWEEN 10 AND 20").collect()) == list(range(10, 21))
    # full read unaffected
    assert MT.read_table(spark, root).count() == 400


# --- optimistic concurrency (VERDICT r4 #5) ---


def _occ_interleave(spark, root, b_updates, competitor_updates, keys=("id",)):
    """Run an OCC merge of ``b_updates`` that, AFTER staging but BEFORE
    taking the commit lock, loses the race to a competitor merge —
    injected through the ``_fault`` hook's 'staged' point, which sits
    exactly in that window. Returns how many times B staged (1 ==
    committed by rebase, 2 == one clean replan/retry)."""
    state = {"stagings": 0, "injected": False}

    def fault(point: str) -> None:
        if point == "staged":
            state["stagings"] += 1
            if not state["injected"]:
                state["injected"] = True
                MT.merge_upsert_atomic(
                    spark, root, competitor_updates, keys=list(keys),
                    partition_by="day",
                )

    MT.merge_upsert_atomic(
        spark, root, b_updates, keys=list(keys), partition_by="day",
        _fault=fault, concurrency="occ",
    )
    return state["stagings"]


def test_occ_disjoint_writers_both_land_via_rebase(spark, tmp_path):
    root = str(tmp_path / "occ1")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]),
        keys=["id"], partition_by="day",
    )
    # B updates d1; competitor inserts a NEW key into a NEW partition
    # d3 -> intervening commit touches {d3}, disjoint from B's {d1},
    # and carries none of B's keys -> B must commit WITHOUT restaging
    stagings = _occ_interleave(
        spark, root,
        b_updates=_rows(spark, [(1, "d1", 10.0)]),
        competitor_updates=_rows(spark, [(50, "d3", 3.0)]),
    )
    assert stagings == 1  # rebase, not replan
    m = MT.read_manifest(root)
    assert int(m["version"]) == 3  # initial + competitor + B, serialized
    assert _read_sorted(spark, root) == [
        (1, "d1", 10.0), (2, "d2", 2.0), (50, "d3", 3.0),
    ]


def test_occ_same_partition_conflict_retries_cleanly(spark, tmp_path):
    root = str(tmp_path / "occ2")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]),
        keys=["id"], partition_by="day",
    )
    # competitor writes into d1 too -> touched sets overlap -> B's
    # staged dirs are discarded and the merge replans exactly once
    stagings = _occ_interleave(
        spark, root,
        b_updates=_rows(spark, [(1, "d1", 10.0)]),
        competitor_updates=_rows(spark, [(3, "d1", 3.0)]),
    )
    assert stagings == 2  # one clean retry
    assert int(MT.read_manifest(root)["version"]) == 3
    assert _read_sorted(spark, root) == [
        (1, "d1", 10.0), (2, "d2", 2.0), (3, "d1", 3.0),
    ]
    # the discarded first staging left no dirs behind beyond vacuum's
    # normal superseded set: every parts/ dir not referenced is from
    # committed-then-superseded versions, and vacuum reaps them all
    MT.vacuum(root, grace_sec=0)
    referenced = set(MT.read_manifest(root)["parts"].values())
    on_disk = {f"parts/{d}" for d in os.listdir(os.path.join(root, "parts"))}
    assert on_disk == referenced


def test_occ_key_hazard_forces_replan_not_duplicate(spark, tmp_path):
    root = str(tmp_path / "occ3")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0)]),
        keys=["id"], partition_by="day",
    )
    # competitor INSERTS key 99 into d2 while B upserts key 99 into d1:
    # touched sets are disjoint ({d2} vs {d1}) but a rebase would leave
    # key 99 duplicated across partitions — the semi-join hazard check
    # must force a replan, after which B's merge displaces 99 from d2
    stagings = _occ_interleave(
        spark, root,
        b_updates=_rows(spark, [(99, "d1", 9.0)]),
        competitor_updates=_rows(spark, [(99, "d2", 2.0)]),
    )
    assert stagings == 2  # hazard detected -> clean replan
    assert _read_sorted(spark, root) == [(1, "d1", 1.0), (99, "d1", 9.0)]


def test_occ_uncontended_behaves_like_locked(spark, tmp_path):
    root = str(tmp_path / "occ4")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0)]),
        keys=["id"], partition_by="day", concurrency="occ",
    )
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 2.0), (2, "d2", 2.0)]),
        keys=["id"], partition_by="day", concurrency="occ",
    )
    assert int(MT.read_manifest(root)["version"]) == 2
    assert _read_sorted(spark, root) == [(1, "d1", 2.0), (2, "d2", 2.0)]


# --- exactly-once epochs (VERDICT r4 #8: txn_app/txn_version) ---


def test_txn_replayed_epoch_is_skipped(spark, tmp_path):
    root = str(tmp_path / "txn1")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0)]), keys=["id"],
        partition_by="day", txn_app="stream", txn_version=0,
    )
    v1 = int(MT.read_manifest(root)["version"])
    # a foreachBatch RETRY re-delivers epoch 0 — and even if the retry
    # carries different rows (non-idempotent upstream), it must be
    # skipped wholesale: the epoch already committed
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(99, "d9", 9.0)]), keys=["id"],
        partition_by="day", txn_app="stream", txn_version=0,
    )
    assert int(MT.read_manifest(root)["version"]) == v1  # no new commit
    assert _read_sorted(spark, root) == [(1, "d1", 1.0)]  # no duplicates
    # the next epoch applies normally and the ledger advances
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(2, "d1", 2.0)]), keys=["id"],
        partition_by="day", txn_app="stream", txn_version=1,
    )
    m = MT.read_manifest(root)
    assert m["txns"] == {"stream": 1}
    assert _read_sorted(spark, root) == [(1, "d1", 1.0), (2, "d1", 2.0)]
    # a DIFFERENT app id is an independent ledger
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(3, "d2", 3.0)]), keys=["id"],
        partition_by="day", txn_app="backfill", txn_version=0,
    )
    assert MT.read_manifest(root)["txns"] == {"stream": 1, "backfill": 0}


def test_txn_ledger_survives_compaction_and_occ(spark, tmp_path):
    root = str(tmp_path / "txn2")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0), (2, "d1", 2.0)]),
        keys=["id"], partition_by="day", txn_app="stream", txn_version=5,
    )
    MT.compact_partition(spark, root, "d1", target_rows_per_file=10)
    assert MT.read_manifest(root)["txns"] == {"stream": 5}  # carried
    # replay after compaction still skips
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(8, "d8", 8.0)]), keys=["id"],
        partition_by="day", txn_app="stream", txn_version=5,
    )
    assert _read_sorted(spark, root) == [(1, "d1", 1.0), (2, "d1", 2.0)]
    # occ path honors and advances the ledger too
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(3, "d2", 3.0)]), keys=["id"],
        partition_by="day", concurrency="occ",
        txn_app="stream", txn_version=6,
    )
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(99, "d9", 9.0)]), keys=["id"],
        partition_by="day", concurrency="occ",
        txn_app="stream", txn_version=6,
    )
    assert MT.read_manifest(root)["txns"] == {"stream": 6}
    assert _read_sorted(spark, root) == [
        (1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0),
    ]


def test_vacuum_grace_spares_young_unreferenced_dirs(spark, tmp_path):
    """An OCC writer stages OUTSIDE the lock, so vacuum must not reap
    young unreferenced dirs (they may be an in-flight staging); with
    the grace window they survive, with grace 0 they are reaped."""
    root = str(tmp_path / "grace")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0)]), keys=["id"],
        partition_by="day",
    )
    # plant a fresh unreferenced dir (what a staging OCC merge looks like)
    fake = os.path.join(root, "parts", "d9-deadbeef")
    os.makedirs(fake)
    removed = MT.vacuum(root)  # default grace: spared
    assert "parts/d9-deadbeef" not in removed and os.path.isdir(fake)
    # age it past the window -> reaped
    old = __import__("time").time() - 7200
    os.utime(fake, (old, old))
    removed = MT.vacuum(root)
    assert "parts/d9-deadbeef" in removed and not os.path.isdir(fake)


def test_occ_threaded_writers_serialize(spark, tmp_path):
    """REAL concurrency: 4 threads race OCC merges into the same table
    (disjoint partitions, so every loser of a commit race can rebase
    or replan). All must land; the final state equals the serial
    union; versions advance one per commit."""
    import threading

    root = str(tmp_path / "occ_threads")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(0, "seed", 0.0)]),
        keys=["id"], partition_by="day",
    )
    errs: list[Exception] = []

    def writer(i: int) -> None:
        try:
            MT.merge_upsert_atomic(
                spark, root,
                _rows(spark, [(100 + i, f"d{i}", float(i))]),
                keys=["id"], partition_by="day",
                concurrency="occ", max_retries=10,
            )
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    m = MT.read_manifest(root)
    assert int(m["version"]) == 5  # seed + 4 serialized commits
    assert _read_sorted(spark, root) == [
        (0, "seed", 0.0),
        (100, "d0", 0.0), (101, "d1", 1.0), (102, "d2", 2.0), (103, "d3", 3.0),
    ]


def test_repartition_table_and_sql_view(spark, tmp_path):
    """Partition-spec evolution: same rows under a new layout in one
    atomic commit; old snapshots stay time-travelable; the SQL view
    surface reads both."""
    root = str(tmp_path / "evolve")
    MT.merge_upsert_atomic(
        spark, root,
        _rows(spark, [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d1", 3.0)]),
        keys=["id"], partition_by="day", stats_cols=["v"],
    )
    MT.repartition_table(spark, root, None, stats_cols=["v"])  # flatten
    m = MT.read_manifest(root)
    assert m["partition_by"] is None and list(m["parts"]) == ["__FULL__"]
    assert m["operation"]["type"] == "repartition"
    assert _read_sorted(spark, root) == [
        (1, "d1", 1.0), (2, "d2", 2.0), (3, "d1", 3.0),
    ]
    # back to partitioned — and stats still answer the HWM zero-job
    MT.repartition_table(spark, root, "day", stats_cols=["v"])
    m = MT.read_manifest(root)
    assert set(m["parts"]) == {"d1", "d2"}
    assert MT.resolve_high_watermark(spark, root, "v") == 3.0
    # version 1 (old spec) still time travels
    assert len(MT.read_table(spark, root, version=1).collect()) == 3
    # SQL surface over the committed snapshot
    MT.create_view(spark, root, "evolved")
    got = spark.sql(
        "SELECT day, CAST(SUM(v) AS DOUBLE) AS s FROM evolved GROUP BY day"
    ).collect()
    assert sorted((r["day"], r["s"]) for r in got) == [("d1", 4.0), ("d2", 2.0)]
    # merges keep working under the evolved spec
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(4, "d3", 4.0)]), keys=["id"],
        partition_by="day", stats_cols=["v"],
    )
    assert MT.resolve_high_watermark(spark, root, "v") == 4.0


def test_delete_partitions_is_metadata_only_and_reversible(spark, tmp_path):
    root = str(tmp_path / "delp")
    MT.merge_upsert_atomic(
        spark, root,
        _rows(spark, [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0)]),
        keys=["id"], partition_by="day", stats_cols=["v"],
    )
    parts_v1 = MT.read_manifest(root)["parts"]
    assert MT.delete_partitions(spark, root, ["d2"]) == ["d2"]
    m = MT.read_manifest(root)
    assert set(m["parts"]) == {"d1", "d3"}
    assert "d2" not in m.get("stats", {})
    assert m["operation"]["type"] == "delete_partitions"
    # metadata-only: the dropped dir still exists on disk (vacuumable)
    import os as _os

    assert _os.path.isdir(_os.path.join(root, parts_v1["d2"]))
    assert _read_sorted(spark, root) == [(1, "d1", 1.0), (3, "d3", 3.0)]
    # reversible via restore while inside retention
    MT.restore_version(spark, root, 1)
    assert _read_sorted(spark, root) == [
        (1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0),
    ]
    assert MT.read_manifest(root)["operation"]["restored_version"] == 1
    # deleting a value with no partition is a no-op
    assert MT.delete_partitions(spark, root, ["nope"]) == []


def test_delete_where_rewrites_only_touched_partitions(spark, tmp_path):
    from pyspark.sql import functions as F2

    root = str(tmp_path / "delw")
    MT.merge_upsert_atomic(
        spark, root,
        _rows(spark, [(1, "d1", 1.0), (2, "d1", 5.0), (3, "d2", 9.0),
                      (4, "d3", 5.0)]),
        keys=["id"], partition_by="day",
    )
    parts_v1 = MT.read_manifest(root)["parts"]
    # v == 5.0 lives in d1 and d3; d3 empties entirely
    assert MT.delete_where(spark, root, F2.col("v") == 5.0) == 2
    m = MT.read_manifest(root)
    assert m["parts"]["d2"] == parts_v1["d2"]  # untouched dir carried
    assert m["parts"]["d1"] != parts_v1["d1"]  # touched dir re-pointed
    assert "d3" not in m["parts"]  # emptied partition dropped
    assert _read_sorted(spark, root) == [(1, "d1", 1.0), (3, "d2", 9.0)]
    # no matches: version unchanged
    v = int(m["version"])
    assert MT.delete_where(spark, root, F2.col("v") == 123.0) == 0
    assert int(MT.read_manifest(root)["version"]) == v


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    root = str(tmp_path / "resv")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0)]), keys=["id"],
        partition_by="day",
    )
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 2.0)]), keys=["id"],
        partition_by="day",
    )
    MT.vacuum(root, retain_history=0, grace_sec=0)  # v1's dir reaped
    with pytest.raises(FileNotFoundError):
        MT.restore_version(spark, root, 1)
    assert _read_sorted(spark, root) == [(1, "d1", 2.0)]  # table intact


def test_update_where_rewrites_only_touched(spark, tmp_path):
    from pyspark.sql import functions as F2

    root = str(tmp_path / "upd")
    MT.merge_upsert_atomic(
        spark, root,
        _rows(spark, [(1, "d1", 1.0), (2, "d1", 5.0), (3, "d2", 9.0)]),
        keys=["id"], partition_by="day",
    )
    parts_v1 = MT.read_manifest(root)["parts"]
    n = MT.update_where(
        spark, root, F2.col("v") >= 5.0, {"v": F2.col("v") * 10}
    )
    assert n == 2
    m = MT.read_manifest(root)
    assert m["operation"]["type"] == "update"
    assert m["parts"]["d1"] != parts_v1["d1"]  # touched: rewritten
    assert m["parts"]["d2"] != parts_v1["d2"]  # touched too (id=3 matches)
    assert _read_sorted(spark, root) == [
        (1, "d1", 1.0), (2, "d1", 50.0), (3, "d2", 90.0),
    ]
    # partition-scoped: update matching only d1 carries d2's dir
    parts_v2 = MT.read_manifest(root)["parts"]
    assert MT.update_where(
        spark, root, F2.col("id") == 1, {"v": F2.lit(7.0)}
    ) == 1
    m = MT.read_manifest(root)
    assert m["parts"]["d2"] == parts_v2["d2"]  # untouched partition carried
    assert _read_sorted(spark, root) == [
        (1, "d1", 7.0), (2, "d1", 50.0), (3, "d2", 90.0),
    ]
    # guards: partition column and unknown column rejected; no-match no-op
    with pytest.raises(ValueError):
        MT.update_where(spark, root, F2.lit(True), {"day": F2.lit("x")})
    with pytest.raises(ValueError):
        MT.update_where(spark, root, F2.lit(True), {"nope": F2.lit(1)})
    v = int(MT.read_manifest(root)["version"])
    assert MT.update_where(spark, root, F2.col("v") > 1e9, {"v": F2.lit(0.0)}) == 0
    assert int(MT.read_manifest(root)["version"]) == v


def test_occ_compaction_commits_or_cleanly_loses(spark, tmp_path):
    from pyspark.sql import functions as F2  # noqa: F401

    root = str(tmp_path / "occ_compact")
    for v in (1.0, 2.0, 3.0):  # several merges -> several files in d1
        MT.merge_upsert_atomic(
            spark, root, _rows(spark, [(int(v * 10), "d1", v)]),
            keys=["id"], partition_by="day",
        )
    # uncontended OCC compaction commits normally
    n = MT.compact_partition(spark, root, "d1", 10_000, concurrency="occ")
    assert n == 1
    rows_before = _read_sorted(spark, root)
    m = MT.read_manifest(root)
    assert m["operation"]["type"] == "compact"
    # losing the race: simulate by compacting against a STALE manifest —
    # re-point d1 between the OCC read and commit via a merge injected
    # through a monkeypatched lock acquisition is overkill; instead run
    # a merge, then call the internal path with the old rel captured:
    stale_rel = m["parts"]["d1"]
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(99, "d1", 9.0)]), keys=["id"],
        partition_by="day",
    )
    assert MT.read_manifest(root)["parts"]["d1"] != stale_rel
    # a second OCC compaction sees the CURRENT dir and still works
    assert MT.compact_partition(spark, root, "d1", 10_000, concurrency="occ") == 1
    assert _read_sorted(spark, root) == sorted(
        rows_before + [(99, "d1", 9.0)]
    )


def test_occ_compaction_race_loser_discards(spark, tmp_path, monkeypatch):
    """Force the lose-the-race branch: the OCC compactor samples a
    STALE manifest (monkeypatched first read), a merge re-points the
    partition, and the commit-time validation must discard the staged
    rewrite (-1) leaving table contents and the winner's dir intact."""
    root = str(tmp_path / "occ_compact_race")
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(1, "d1", 1.0)]), keys=["id"],
        partition_by="day",
    )
    stale = MT.read_manifest(root)
    MT.merge_upsert_atomic(
        spark, root, _rows(spark, [(2, "d1", 2.0)]), keys=["id"],
        partition_by="day",
    )
    current = MT.read_manifest(root)
    real = MT.read_manifest
    calls = {"n": 0}

    def fake(r, version=None):
        calls["n"] += 1
        if calls["n"] == 1 and version is None:
            return stale
        return real(r, version)

    monkeypatch.setattr(MT, "read_manifest", fake)
    assert (
        MT.compact_partition(spark, root, "d1", 10_000, concurrency="occ")
        == -1
    )
    monkeypatch.setattr(MT, "read_manifest", real)
    m = MT.read_manifest(root)
    assert m["parts"] == current["parts"]  # winner untouched, no commit
    assert _read_sorted(spark, root) == [(1, "d1", 1.0), (2, "d1", 2.0)]
    # the loser's staged dir is not referenced and vacuums away
    MT.vacuum(root, grace_sec=0)
    import os as _os

    on_disk = {f"parts/{d}" for d in _os.listdir(_os.path.join(root, "parts"))}
    assert on_disk == set(m["parts"].values())


def test_bloom_sidecar_prunes_point_probe(spark, tmp_path):
    """VERDICT r11 #7: on an UNSORTED high-cardinality key (every
    file's [min,max] spans the domain — range stats prune nothing), a
    point probe through the per-file Bloom sidecar must read STRICTLY
    fewer files with identical rows; a definitely-absent key reads
    zero files; and the sidecar is invisible to plain scans."""
    import hashlib

    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F2.col("id"),
        F2.md5(F2.col("id").cast("string")).alias("key"),
        (F2.col("id") % 2).cast("string").alias("part"),
    )
    MT.merge_upsert_atomic(
        spark, root, df.repartition(8), keys=["id"],
        partition_by="part", bloom_cols=["key"],
    )
    full = MT.read_table(spark, root)
    probe = hashlib.md5(b"123").hexdigest()
    pruned = MT.read_table(spark, root, stats_filter={"key": (probe, probe)})
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    assert [
        (r["id"], r["part"])
        for r in pruned.filter(F2.col("key") == probe).collect()
    ] == [(123, "1")]
    absent = MT.read_table(
        spark, root, stats_filter={"key": ("nope", "nope")}
    )
    assert len(absent.inputFiles()) == 0 and absent.count() == 0
    # plain scan: sidecar file must not leak into the parquet read
    assert full.count() == 4000
    assert all(p.endswith(".parquet") for p in full.inputFiles())


def test_bloom_skipping_survives_column_rename(spark, tmp_path):
    """Sidecars key PHYSICAL names (like stats), so a metadata-only
    rename keeps pruning: the logical probe maps through the column
    mapping before the sidecar lookup."""
    import hashlib

    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.range(0, 2000).select(
        F2.col("id"), F2.md5(F2.col("id").cast("string")).alias("key")
    )
    MT.merge_upsert_atomic(
        spark, root, df.repartition(8), keys=["id"], bloom_cols=["key"]
    )
    MT.rename_column(spark, root, "key", "content_hash")
    probe = hashlib.md5(b"77").hexdigest()
    full = MT.read_table(spark, root)
    pruned = MT.read_table(
        spark, root, stats_filter={"content_hash": (probe, probe)}
    )
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    assert [
        r["id"]
        for r in pruned.filter(F2.col("content_hash") == probe).collect()
    ] == [77]


def test_bloom_index_survives_rewrites(spark, tmp_path):
    """Once DECLARED (manifest bloom_cols), the index must survive
    every rewriting op — compaction/OPTIMIZE, UPDATE, a second merge
    that never re-passes bloom_cols — instead of silently shedding
    sidecars and with them the file skipping."""
    import hashlib

    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F2.col("id"), F2.md5(F2.col("id").cast("string")).alias("key")
    )
    MT.merge_upsert_atomic(
        spark, root, df.repartition(8), keys=["id"], bloom_cols=["key"]
    )
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]

    def pruned_files(probe_id: int) -> int:
        probe = hashlib.md5(str(probe_id).encode()).hexdigest()
        t = MT.read_table(spark, root, stats_filter={"key": (probe, probe)})
        assert [r["id"] for r in t.filter(F2.col("key") == probe).collect()] \
            == [probe_id]
        return len(t.inputFiles())

    # a second merge WITHOUT bloom_cols still rebuilds its staged dirs
    more = spark.range(4000, 6000).select(
        F2.col("id"), F2.md5(F2.col("id").cast("string")).alias("key")
    )
    MT.merge_upsert_atomic(spark, root, more.repartition(8), keys=["id"])
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]
    full = len(MT.read_table(spark, root).inputFiles())
    assert pruned_files(5000) < full
    # UPDATE rewrites the touched dir WITH a fresh sidecar
    MT.update_where(spark, root, F2.col("id") == -1, {"id": F2.col("id")})
    # compaction/OPTIMIZE rebuilds too
    MT.maintain(spark, root, target_rows_per_file=500,
                max_files_per_partition=1, retain_history=0, grace_sec=0.0)
    full = len(MT.read_table(spark, root).inputFiles())
    assert full > 1 and pruned_files(123) < full


def test_bloom_false_positive_rate_in_spec(spark, tmp_path):
    """The sidecar's md5-position family must deliver roughly the
    requested fpp: probing 2000 ABSENT keys against a 1%-fpp index
    must skip the overwhelming majority of files (a broken hash
    family degrades to keep-everything, which stays correct but
    silently costs the skipping this index exists for)."""
    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F2.col("id"), F2.md5(F2.col("id").cast("string")).alias("key")
    )
    MT.merge_upsert_atomic(
        spark, root, df.repartition(8), keys=["id"], bloom_cols=["key"]
    )
    m = MT.read_manifest(root)
    rel = next(iter(m["parts"].values()))
    side = MT._load_bloom_sidecar(f"{root}/{rel}")
    files = side["cols"]["key"]
    n_files = len(files)
    tested = kept = 0
    for probe_i in range(2000):
        probe = f"absent-{probe_i}"  # definitely not an md5 of 0..3999
        for fname in files:
            tested += 1
            if not MT._bloom_skips_file(side, fname, {"key": probe}):
                kept += 1
    fp_rate = kept / tested
    assert n_files >= 2 and fp_rate < 0.05, (n_files, fp_rate)


def test_bloom_composes_with_occ_clone_and_time_travel(spark, tmp_path):
    """The bloom declaration must ride through the OTHER commit
    machinery: an OCC merge keeps declaration + sidecars, a zero-copy
    clone prunes through the source's sidecars, and a time-travel
    read of an old version prunes with that version's dirs."""
    import hashlib

    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.range(0, 3000).select(
        F2.col("id"), F2.md5(F2.col("id").cast("string")).alias("key")
    )
    MT.merge_upsert_atomic(
        spark, root, df.repartition(8), keys=["id"], bloom_cols=["key"]
    )
    more = spark.range(3000, 4000).select(
        F2.col("id"), F2.md5(F2.col("id").cast("string")).alias("key")
    )
    MT.merge_upsert_atomic(
        spark, root, more.repartition(8), keys=["id"], concurrency="occ"
    )
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]

    def files_for(read_root, probe_id, **kw):
        probe = hashlib.md5(str(probe_id).encode()).hexdigest()
        t = MT.read_table(
            spark, read_root, stats_filter={"key": (probe, probe)}, **kw
        )
        assert [r["id"] for r in t.collect() if r["key"] == probe] \
            == [probe_id]
        return len(t.inputFiles())

    full = len(MT.read_table(spark, root).inputFiles())
    assert files_for(root, 3500) < full  # OCC-staged dirs have sidecars
    # time travel: v1's dirs keep their sidecars
    full_v1 = len(MT.read_table(spark, root, version=1).inputFiles())
    probe = hashlib.md5(b"77").hexdigest()
    v1 = MT.read_table(
        spark, root, version=1, stats_filter={"key": (probe, probe)}
    )
    assert 0 < len(v1.inputFiles()) < full_v1
    # clone: points at the source's immutable dirs; sidecars travel
    clone = str(tmp_path / "c")
    MT.clone_table(root, clone)
    assert files_for(clone, 123) < len(
        MT.read_table(spark, clone).inputFiles()
    )


def test_bloom_declaration_survives_metadata_and_tombstone_commits(
    spark, tmp_path
):
    """r12 audit fix: rename/drop_column, add/drop_constraint and both
    tombstone writers (delete_where_mor / delete_where_pos) must carry
    the bloom_cols DECLARATION — before the fix any of these commits
    silently shed it, so the next rewrite stopped rebuilding sidecars
    and file skipping degraded table-wide without an error."""
    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.range(0, 500).select(
        F2.col("id"),
        F2.md5(F2.col("id").cast("string")).alias("key"),
        F2.lit(1.0).alias("extra"),
    )
    MT.merge_upsert_atomic(
        spark, root, df.repartition(4), keys=["id"], bloom_cols=["key"]
    )
    MT.rename_column(spark, root, "key", "content_hash")
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]  # physical
    MT.add_constraint(spark, root, "id_pos", "id >= 0")
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]
    MT.drop_constraint(root, "id_pos")
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]
    MT.delete_where_mor(spark, root, F2.col("id") == 3, keys=["id"])
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]
    MT.apply_deletes(spark, root)
    MT.delete_where_pos(spark, root, F2.col("id") == 4)
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]
    MT.apply_pos_deletes(spark, root)
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]
    MT.drop_column(spark, root, "extra")
    assert MT.read_manifest(root)["bloom_cols"] == ["key"]


def test_metadata_tables_detail_files_history(spark, tmp_path):
    """DESCRIBE DETAIL / files / history metadata relations (r12):
    zero-data-read answers to 'what is this table' — declared
    features, live files with footer row counts and recorded stats,
    and the commit log as a SQL-queryable DataFrame."""
    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, part string, v double",
    )
    MT.merge_upsert_atomic(
        spark, root, df, keys=["id"], partition_by="part",
        stats_cols=["id"], bloom_cols=["id"],
    )
    MT.add_constraint(spark, root, "v_pos", "v > 0")
    MT.delete_where_pos(spark, root, F2.col("id") == 2)
    d = MT.table_detail(root)
    assert d["version"] == 3 and d["partition_by"] == "part"
    assert d["columns"] == ["id", "part", "v"]
    assert d["n_partitions"] == 2 and d["n_files"] >= 2 and d["n_bytes"] > 0
    assert d["constraints"] == {"v_pos": "v > 0"}
    assert d["bloom_cols"] == ["id"]
    assert d["n_pending_position_delete_files"] == 1
    assert d["n_pending_equality_delete_files"] == 0
    f = MT.files_df(spark, root)
    f.createOrReplaceTempView("t_files")
    rowcounts = {
        r["partition_key"]: r["n"]
        for r in spark.sql(
            "SELECT partition_key, SUM(rows) AS n FROM t_files "
            "GROUP BY partition_key"
        ).collect()
    }
    # files are RAW (tombstoned row still physically present)
    assert rowcounts == {"a": 2, "b": 1}
    assert all(
        r["stats"] is not None for r in f.collect()
    )  # recorded per-file stats surface as JSON
    h = MT.history_df(spark, root)
    assert [
        (r["version"], r["type"]) for r in h.orderBy("version").collect()
    ] == [(1, "initial"), (2, "add_constraint"), (3, "delete_pos")]
    # time travel: files_df of v1 ignores later state
    assert MT.files_df(spark, root, version=1).count() == f.count()


def test_reader_feature_flags_recorded_and_enforced(spark, tmp_path):
    """Protocol feature flags (r12, the Delta reader-features shape):
    commits record exactly the features a reader needs; a manifest
    declaring a feature this build lacks refuses loudly instead of
    silently misreading."""
    import json as _json

    import pyspark.sql.functions as F2

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0)], "id long, part string, v double"
    )
    MT.merge_upsert_atomic(spark, root, df, keys=["id"], partition_by="part")
    assert "reader_features" not in MT.read_manifest(root)
    MT.rename_column(spark, root, "v", "amount")
    MT.delete_where_pos(spark, root, F2.col("id") == 2)
    m = MT.read_manifest(root)
    assert m["reader_features"] == ["column-mapping", "position-deletes"]
    MT.apply_pos_deletes(spark, root)
    assert MT.read_manifest(root)["reader_features"] == ["column-mapping"]
    # an unknown future feature refuses the read
    p = os.path.join(root, "MANIFEST")
    raw = _json.load(open(p))
    raw["reader_features"] = ["column-mapping", "quantum-deletes"]
    _json.dump(raw, open(p, "w"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="quantum-deletes"):
        MT.read_manifest(root)


# ---------------------------------------------------------------------------
# Field ownership: every commit derives its manifest from the parent, so a
# field an op does not own must come through unchanged. The table below
# names, per op, the fields it may change; every other field of the parent
# (pending deletes, declarations, mapping, quarantine, ledger, stats) must
# be equal in the child.
# ---------------------------------------------------------------------------

_PER_COMMIT = {"version", "operation", "committed_at_ms", "reader_features"}
_OPTIONAL = {
    "constraints", "bloom_cols", "generation", "expectations", "quarantine",
    "column_mapping", "retired_physical", "txns", "stats", "file_stats",
}
_STATE = {"parts", "stats", "file_stats"}  # a data rewrite re-points these


def _full_row(i, day, v):
    # id, day, v, v2 (generated: v * 2), w (= id * 10), extra (renamed
    # to extra2 below), dropme (dropped below)
    return (i, day, v, v * 2, i * 10, i, i)


_FULL_SCHEMA = (
    "id long, day string, v double, v2 double, w long, extra long, "
    "dropme long"
)


@pytest.fixture(scope="module")
def full_tables(spark, tmp_path_factory):
    """Three snapshots of one table with every optional manifest field
    set: "plain" (no pending deletes), "eq" (+ equality deletes) and
    "all" (+ positional deletes). Each op runs on a copy of the richest
    snapshot it accepts."""
    import shutil

    import pyspark.sql.functions as F2

    base = tmp_path_factory.mktemp("full")
    root = str(base / "all")
    rows = [
        _full_row(i, day, float(i))
        for i, day in [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c"),
                       (6, "c")]
    ]
    MT.merge_upsert_atomic(
        spark, root, spark.createDataFrame(rows, _FULL_SCHEMA),
        keys=["id"], partition_by="day", stats_cols=["v"],
        bloom_cols=["id"], txn_app="app", txn_version=1,
    )
    MT.set_generation_expr(spark, root, "v2", "v * 2")
    MT.add_constraint(spark, root, "v_pos", "v > 0")
    MT.set_expectation(spark, root, "v_small", "v < 1000")
    batch = spark.createDataFrame(
        [(7, "c", 7.0, 70, 7, 7), (8, "c", 5000.0, 80, 8, 8)],
        "id long, day string, v double, w long, extra long, dropme long",
    )
    MT.merge_upsert_atomic(
        spark, root, batch, keys=["id"], partition_by="day",
        stats_cols=["v"], txn_app="app", txn_version=2,
    )
    MT.rename_column(spark, root, "extra", "extra2")
    MT.drop_column(spark, root, "dropme")
    snaps = {}
    snaps["plain"] = str(base / "plain")
    shutil.copytree(root, snaps["plain"])
    MT.delete_where_mor(spark, root, F2.col("id") == 1, keys=["id"])
    snaps["eq"] = str(base / "eq")
    shutil.copytree(root, snaps["eq"])
    MT.delete_where_pos(spark, root, F2.col("id") == 5)
    snaps["all"] = root
    m = MT.read_manifest(root)
    assert _OPTIONAL | {"deletes", "delete_keys", "pos_deletes"} <= set(m)
    assert m["quarantine"] and m["column_mapping"] and m["retired_physical"]
    return snaps


def _op_merge(spark, root):
    batch = spark.createDataFrame(
        [(3, "b", 30.0, 30, 3), (9, "d", 9.0, 90, 9)],
        "id long, day string, v double, w long, extra2 long",
    )
    MT.merge_upsert_atomic(
        spark, root, batch, keys=["id"], partition_by="day",
        stats_cols=["v"], txn_app="app", txn_version=3,
    )


def _op_restore(spark, root):
    MT.restore_version(spark, root, 2)  # before expectations and rename


def _op_clone(spark, root):
    MT.clone_table(root, root + "_clone")


def _ops():
    import pyspark.sql.functions as F2

    merge_fields = _STATE | {
        "schema", "partition_by", "txns", "quarantine", "column_mapping",
        "retired_physical", "bloom_cols",
    }
    return {
        "merge_upsert_atomic": ("plain", _op_merge, merge_fields),
        "compact_partition": (
            "eq",
            lambda s, r: MT.compact_partition(
                s, r, "a", target_rows_per_file=1
            ),
            _STATE,
        ),
        "compact_partition_occ": (
            "eq",
            lambda s, r: MT.compact_partition(
                s, r, "a", target_rows_per_file=1, concurrency="occ"
            ),
            _STATE,
        ),
        "repartition_table": (
            "all",
            lambda s, r: MT.repartition_table(s, r, None, stats_cols=["v"]),
            _STATE | {"partition_by", "deletes", "delete_keys",
                      "pos_deletes"},
        ),
        "delete_partitions": (
            "all", lambda s, r: MT.delete_partitions(s, r, ["b"]), _STATE
        ),
        "delete_where": (
            "all",
            lambda s, r: MT.delete_where(s, r, F2.col("id") == 3),
            _STATE,
        ),
        "restore_version": (
            "all",
            _op_restore,
            _STATE | {"partition_by", "schema", "deletes", "delete_keys",
                      "pos_deletes", "quarantine", "column_mapping",
                      "retired_physical"},
        ),
        "update_where": (
            "plain",
            lambda s, r: MT.update_where(
                s, r, F2.col("id") == 3, {"v": F2.lit(33.0)}
            ),
            _STATE,
        ),
        "clone_table": (
            "all",
            _op_clone,
            {"parts", "deletes", "pos_deletes", "quarantine", "txns"},
        ),
        "set_expectation": (
            "all",
            lambda s, r: MT.set_expectation(s, r, "w_pos", "w > 0"),
            {"expectations"},
        ),
        "drop_expectation": (
            "all",
            lambda s, r: MT.drop_expectation(r, "v_small"),
            {"expectations"},
        ),
        "clear_quarantine": (
            "all", lambda s, r: MT.clear_quarantine(r), {"quarantine"}
        ),
        "add_constraint": (
            "all",
            lambda s, r: MT.add_constraint(s, r, "id_pos", "id > 0"),
            {"constraints"},
        ),
        "drop_constraint": (
            "all", lambda s, r: MT.drop_constraint(r, "v_pos"),
            {"constraints"},
        ),
        "set_generation_expr": (
            "all",
            lambda s, r: MT.set_generation_expr(s, r, "w", "id * 10"),
            {"generation"},
        ),
        "drop_generation_expr": (
            "all", lambda s, r: MT.drop_generation_expr(r, "v2"),
            {"generation"},
        ),
        "rename_column": (
            "all",
            lambda s, r: MT.rename_column(s, r, "w", "w_renamed"),
            {"schema", "column_mapping", "partition_by", "delete_keys",
             "constraints", "generation", "expectations"},
        ),
        "drop_column": (
            "all",
            lambda s, r: MT.drop_column(s, r, "w"),
            {"schema", "retired_physical", "column_mapping", "generation"},
        ),
        "delete_where_pos": (
            "all",
            lambda s, r: MT.delete_where_pos(s, r, F2.col("id") == 6),
            {"pos_deletes"},
        ),
        "apply_pos_deletes": (
            "all",
            lambda s, r: MT.apply_pos_deletes(s, r),
            _STATE | {"pos_deletes"},
        ),
        "delete_where_mor": (
            "all",
            lambda s, r: MT.delete_where_mor(
                s, r, F2.col("id") == 2, keys=["id"]
            ),
            {"deletes", "delete_keys"},
        ),
        "apply_deletes": (
            "eq",
            lambda s, r: MT.apply_deletes(s, r),
            _STATE | {"deletes", "delete_keys"},
        ),
    }


@pytest.mark.parametrize("op", sorted(_ops()))
def test_commit_keeps_every_field_it_does_not_own(
    spark, tmp_path, full_tables, op
):
    import shutil

    snap, run, owned = _ops()[op]
    root = str(tmp_path / "t")
    shutil.copytree(full_tables[snap], root)
    parent = MT.read_manifest(root)
    run(spark, root)
    child = MT.read_manifest(root + "_clone" if op == "clone_table" else root)
    assert child["version"] == (
        1 if op == "clone_table" else parent["version"] + 1
    )
    missing = object()
    changed = sorted(
        k
        for k in (set(parent) | set(child)) - _PER_COMMIT - owned
        if parent.get(k, missing) != child.get(k, missing)
    )
    assert changed == [], f"{op} changed fields it does not own: {changed}"


def test_every_commit_derives_from_next_manifest():
    """Structural guard: every manifest that reaches ``_commit`` is built
    by ``_next_manifest`` (directly or through a helper that returns
    one), and no other code builds a manifest-shaped dict literal. The
    read-only ``history``/``table_detail`` reports, and the quarantine
    capture record ({version, count}), are the only dicts with a
    ``"version"`` key."""
    import ast
    import inspect

    src = inspect.getsource(MT)
    assert "_carry_" not in src
    tree = ast.parse(src)
    funcs = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }

    def calls(node, name):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == name
        )

    builders = {"_next_manifest"}
    grew = True
    while grew:  # helpers whose every return is a builder call
        grew = False
        for name, fn in funcs.items():
            rets = [n for n in ast.walk(fn) if isinstance(n, ast.Return)]
            if name not in builders and rets and all(
                any(calls(r.value, b) for b in builders) for r in rets
            ):
                builders.add(name)
                grew = True

    n_commits = 0
    for name, fn in funcs.items():
        for node in ast.walk(fn):
            if isinstance(node, ast.Dict) and any(
                isinstance(k, ast.Constant) and k.value == "version"
                for k in node.keys
            ):
                keys = {
                    k.value for k in node.keys if isinstance(k, ast.Constant)
                }
                assert name in ("history", "table_detail") or keys == {
                    "version", "count"
                }, f"{name} builds a manifest-shaped dict literal"
            if not calls(node, "_commit") or name == "_commit":
                continue
            n_commits += 1
            arg = node.args[1]
            if isinstance(arg, ast.Name):
                sources = [
                    a.value
                    for a in ast.walk(fn)
                    if isinstance(a, ast.Assign)
                    and any(
                        isinstance(t, ast.Name) and t.id == arg.id
                        for t in a.targets
                    )
                ]
            else:
                sources = [arg]
            assert sources and all(
                any(calls(v, b) for b in builders) for v in sources
            ), f"{name} commits a manifest not built by _next_manifest"
    assert n_commits >= 21
