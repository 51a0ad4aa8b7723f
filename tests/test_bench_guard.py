"""Bench regression guard (VERDICT r02 #6): the pinned per-query
baseline must exist, and the guard must fire on a deliberately slowed
query without running the full bench."""

from __future__ import annotations

import bench


def test_baseline_artifact_pins_headline_queries():
    baseline = bench.load_baseline()
    assert baseline is not None, "bench_baseline.json missing/unparseable"
    pinned = baseline["queries"]
    # every pinned query is still a registered headline query
    assert set(pinned) <= set(bench.HEADLINE)
    assert all(sec > 0 for sec in pinned.values())
    assert baseline["regression_factor"] == 2.0


def test_guard_fires_on_deliberately_slowed_query():
    baseline = {
        "regression_factor": 2.0,
        "queries": {"q_fast": 1.0, "q_slow": 1.0},
    }
    timings = {"q_fast": 1.5, "q_slow": 2.5, "q_new_this_round": 99.0}
    flagged = bench.check_regressions(timings, baseline)
    assert flagged == ["q_slow"]  # slowed query fires; unpinned is skipped


def test_guard_quiet_without_baseline():
    assert bench.check_regressions({"q": 100.0}, None) == []


def test_sf1_guard_fires_on_superlinear_drift():
    """VERDICT r6 #6: pinned sf1 spot queries get the same x-factor
    gate as the sf0.1 pins; unpinned spot queries are skipped."""
    baseline = {
        "regression_factor": 2.0,
        "sf1_regression_factor": 2.0,
        "sf1_queries": {"q_lin": 5.0, "q_drift": 5.0},
    }
    spot = {
        "copies": 10,
        "queries": {
            "q_lin": {"sec": 6.0, "ratio_vs_sf0.1": 3.0},
            "q_drift": {"sec": 11.0, "ratio_vs_sf0.1": 9.0},
            "q_new": {"sec": 99.0, "ratio_vs_sf0.1": 9.9},
        },
    }
    assert bench.check_sf1_regressions(spot, baseline) == ["q_drift"]
    assert bench.check_sf1_regressions(None, baseline) == []
    assert bench.check_sf1_regressions({"error": "x"}, baseline) == []
    assert bench.check_sf1_regressions(spot, None) == []


def test_sf1_baseline_pins_exist_for_spot_queries():
    baseline = bench.load_baseline()
    pinned = baseline.get("sf1_queries", {})
    # every pinned sf1 query is a spot query, and the spot set is pinned
    assert set(pinned) <= set(bench.SF1_SPOT)
    assert all(sec > 0 for sec in pinned.values())


def test_detail_artifact_path_targets_next_round(tmp_path):
    """VERDICT r6 #5: the full per-query detail ships as a file named
    for the round the driver is about to record."""
    assert bench.detail_artifact_path(32, str(tmp_path)).endswith(
        "bench_detail_r01.cpus32.json"
    )
    (tmp_path / "BENCH_r06.json").write_text("{}")
    assert bench.detail_artifact_path(32, str(tmp_path)).endswith(
        "bench_detail_r07.cpus32.json"
    )


def test_detail_artifact_path_keyed_by_cpus(tmp_path):
    """Two core counts in one round get two files: a low-core probe
    must not overwrite the headline run's detail."""
    (tmp_path / "BENCH_r15.json").write_text("{}")
    probe = bench.detail_artifact_path(8, str(tmp_path))
    headline = bench.detail_artifact_path(32, str(tmp_path))
    assert probe != headline
    assert probe.endswith("bench_detail_r16.cpus8.json")
    assert headline.endswith("bench_detail_r16.cpus32.json")


def test_summary_line_fits_driver_tail_budget():
    """VERDICT r5 #1: the driver parses only the LAST JSON line from a
    2000-char stdout tail. Simulate a full-size bench report (every
    headline query timed, a 10-query sf1 spot, a worst-case regression
    list) and pin that the final line stays under 1 KB while the detail
    line carries the per-query timings."""
    import json

    timings = {name: 1.234 for name in bench.HEADLINE}
    sf1_spot = {
        "copies": 10,
        "method": "min_of_2",
        "queries": {
            name: {"sec": 3.456, "ratio_vs_sf0.1": 3.4}
            for name in bench.SF1_SPOT
        },
    }
    detail_line, summary_line = bench.build_report(
        timings=timings,
        total=round(sum(timings.values()), 3),
        sf="0.1",
        regressions=sorted(timings),  # pathological: everything regressed
        method="min_of_3_runs",
        r1_subset=12.3,
        sf1_spot=sf1_spot,
        sf1_regressions=sorted(sf1_spot["queries"]),  # all of them
    )
    assert len(summary_line) < 1000
    assert "\n" not in summary_line and "\n" not in detail_line
    summary = json.loads(summary_line)
    assert summary["metric"] == "headline_queries_total_sec"
    assert summary["value"] > 0
    assert summary["n_queries"] == len(bench.HEADLINE)
    assert summary["n_regressions"] == len(timings)
    assert len(summary["regressions"]) <= 10
    detail = json.loads(detail_line)
    assert set(detail["queries"]) == set(bench.HEADLINE)


def test_cpu_scaled_gate_absorbs_low_core_probe():
    """VERDICT r14 #2: pins are measured at pinned_cpus; a lower-core
    driver probe gets pinned_cpus/cpus extra headroom (a parallel
    query is legitimately that much slower), but an order-of-magnitude
    regression still fires, and a >=pinned_cpus run gets NO extra
    headroom."""
    baseline = {
        "regression_factor": 2.0,
        "pinned_cpus": 32,
        "queries": {"q": 1.0},
        "sf1_regression_factor": 2.0,
        "sf1_queries": {"q": 4.0},
    }
    # r14's real false flag shape: sf1 pin 4.0, 8-core reading 9.34s.
    spot = {"queries": {"q": {"sec": 9.34, "ratio_vs_sf0.1": 3.6}}}
    assert bench.check_sf1_regressions(spot, baseline, cpus=32) == ["q"]
    assert bench.check_sf1_regressions(spot, baseline, cpus=8) == []
    # an order-of-magnitude drift still fires even at 8 cores
    bad = {"queries": {"q": {"sec": 40.0, "ratio_vs_sf0.1": 20.0}}}
    assert bench.check_sf1_regressions(bad, baseline, cpus=8) == ["q"]
    # sf0.1 gate: 3.5s vs pin 1.0 flags at 32 cores, not at 8
    assert bench.check_regressions({"q": 3.5}, baseline, cpus=32) == ["q"]
    assert bench.check_regressions({"q": 3.5}, baseline, cpus=8) == []
    # more cores than the pin never TIGHTENS the gate
    assert bench.check_regressions({"q": 1.9}, baseline, cpus=64) == []
    # cpus unknown (None) keeps the unscaled legacy behavior
    assert bench.check_regressions({"q": 3.5}, baseline) == ["q"]


def test_shipped_baseline_records_pin_cpus():
    baseline = bench.load_baseline()
    assert baseline.get("pinned_cpus") == 32
