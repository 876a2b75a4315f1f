"""bench.py artifact hygiene: the stall guard and the compact stdout line.

Round-4 postmortem (VERDICT r04 "What's wrong" #1/#2): the latency window
captured a stall — exactly 20 giant batches where ~440 were expected at a
0.25 s trigger over 110 s — and the absolute ``n < 20`` threshold let it
publish p50 12,470 ms unflagged; separately the one-line JSON outgrew the
driver's tail capture and BENCH_r04.json parsed as null. These tests pin
both fixes without needing a SparkSession.
"""

from __future__ import annotations

import json

from bench import compact_line, degenerate_window, io_stall_window


def _lat(n_samples, n_batches, p50_exec_ms, trigger_sec=0.25, run_sec=110):
    return {
        "n_samples": n_samples,
        "p50": 2300,
        "p95": 7000,
        "config": {
            "trigger_sec": trigger_sec,
            "run_sec": run_sec,
            "batches": {
                "n": n_batches,
                "trigger_exec_ms_p50": p50_exec_ms,
                "trigger_exec_ms_max": p50_exec_ms * 2,
            },
        },
    }


def test_healthy_window_passes():
    # ~230 batches of ~250 ms exec at a 0.25 s trigger over 110 s: healthy.
    assert not degenerate_window(_lat(40_000, 230, 240))


def test_bench_r04_stall_is_flagged():
    # The exact shape that slipped through in round 4: 20 giant backlogged
    # batches (4,370 ms median exec at a 250 ms trigger). Both the relative
    # batch-count check (20 < 0.25 * 440) and the exec-time check fire.
    assert degenerate_window(_lat(40_000, 20, 4_370))


def test_batch_count_is_relative_to_expected():
    # 30 batches would have passed the old absolute >= 20 rule but is < 25%
    # of the ~440 expected — still a stall even with fast individual batches.
    assert degenerate_window(_lat(40_000, 30, 200))
    # ...while the same 30 batches at a 1 s trigger (110 expected) is fine.
    assert not degenerate_window(_lat(40_000, 30, 900, trigger_sec=1.0))


def test_queueing_batches_flagged_even_when_count_ok():
    # Plenty of batches, but median exec 4x past the trigger: percentiles
    # would measure backlog drain, not steady state.
    assert degenerate_window(_lat(40_000, 230, 1_100))


def test_thin_sample_flagged():
    assert degenerate_window(_lat(101, 230, 240))


def test_missing_batch_stats_is_degenerate():
    # No progress captured at all -> nothing proves the window was healthy.
    assert degenerate_window({"n_samples": 40_000, "config": {}})


def _lat_commits(p50, p99, spikes):
    return {
        "n_samples": 40_000,
        "p95": 7_000,
        "config": {
            "trigger_sec": 0.5,
            "run_sec": 110,
            "batches": {
                "n": 200,
                "state_commit_ms_p50": p50,
                "state_commit_ms_p99": p99,
                "commit_spikes": spikes,
            },
        },
    }


def test_io_stall_flagged_on_pure_filesync_spikes():
    # The r06 sandbox shape: commit p99 blown out, every spike ~100% fileSync
    # (flush/compact/checkpoint ~0) — the storage layer stalling fsync.
    spike = {"stateCommit_ms": 8_662, "fileSync_ms": 8_646, "flush_ms": 0}
    assert io_stall_window(_lat_commits(2_064, 8_662, [spike]))


def test_snapshot_flush_spike_is_not_io_stall():
    # A flush-dominated spike is the snapshot-cadence (engine) behavior the
    # minDeltasForSnapshot fix targets — must NOT be excused as host IO.
    spike = {"stateCommit_ms": 33_243, "fileSync_ms": 3_955, "flush_ms": 28_135}
    assert not io_stall_window(_lat_commits(2_016, 33_243, [spike]))


def test_modest_commit_tail_is_not_io_stall():
    spike = {"stateCommit_ms": 3_000, "fileSync_ms": 2_900, "flush_ms": 0}
    assert not io_stall_window(_lat_commits(2_000, 3_000, [spike]))


def test_missing_commit_stats_is_not_io_stall():
    assert not io_stall_window({"n_samples": 40_000, "config": {}})


def _with_sync_p50(lat, sync_p50, partitions=16):
    lat["config"]["batches"]["fileSync_ms_p50"] = sync_p50
    lat["config"]["partitions"] = partitions
    return lat


def test_elevated_baseline_filesync_is_io_stall():
    # Per-partition elevated regime: every batch pays > 250 ms of fileSync
    # PER STATE PARTITION (here 500 ms x 16 = 8 s summed), sync-dominated.
    lat = _with_sync_p50(_lat_commits(9_000, 15_000, []), 8_000)
    assert io_stall_window(lat)


def test_healthy_summed_filesync_not_flagged():
    # r07 units finding: fileSync_ms is a SUM over partitions — a healthy
    # 16-partition window at the bench operating point measures ~2.1 s
    # summed (~130 ms/partition, overlapped in wall time; quiet-machine
    # probe at load 0.29). Must NOT flag, or every clean run pays the A/B.
    lat = _with_sync_p50(_lat_commits(2_137, 3_561, []), 2_126)
    assert not io_stall_window(lat)


def test_small_sync_dominated_commits_not_flagged():
    # Healthy fast storage: tiny, naturally sync-dominated commits — the
    # per-partition 250 ms floor must hold.
    lat = _with_sync_p50(_lat_commits(20, 35, []), 12)
    assert not io_stall_window(lat)


def test_modest_sync_share_not_flagged():
    # Sync large in absolute sum but under half the commit median:
    # engine-side cost (e.g. flush-dominated), not host IO.
    lat = _with_sync_p50(_lat_commits(16_000, 20_000, []), 6_000)
    assert not io_stall_window(lat)


def _detail_fixture(degenerate=False):
    lat = {
        "n_samples": 38_412,
        "p50": 2_301,
        "p95": 7_512,
        "p99": 9_104,
        "max": 12_001,
        "full_window": {"n_samples": 51_002, "p50": 4_100, "p95": 9_000},
        "config": {"trigger_sec": 0.25, "run_sec": 110, "batches": {"n": 230}},
    }
    if degenerate:
        lat["degenerate_window"] = True
    return {
        "metric": "headline_suite_seconds",
        "value": 20.6,
        "unit": "sec",
        "queries": {f"q{i}": 1.234 for i in range(17)},
        "suite_passes": [55.1, 21.0],
        "machine": {
            "load_at_invoke": 0.5,
            "load_at_start": 0.5,
            "load_at_end": 30.1,
            "waited_sec": 0.0,
            "contended": False,
            "nproc": 32,
        },
        "sf": 0.1,
        "sf1": {"queries_sec": {f"q{i}": 9.9 for i in range(12)}},
        "streaming": {
            "words_per_sec_best": 2_390_000,
            "words_per_sec_median": 2_360_000,
            "words_per_sec_attempts": [2_390_000, 2_360_000, 1_970_000],
            "latency_ms": lat,
            "recovery": {
                "killed_after_batches": 2,
                "restart_to_first_commit_sec": 2.97,
                "exactly_once_ok": True,
            },
        },
        "cpus": 32,
    }


def test_compact_line_fits_driver_capture():
    line = json.dumps(compact_line(_detail_fixture()))
    # driver tail-capture budget with margin (r04 failed at ~2 KB)
    assert len(line) <= 1_500, f"compact line too big: {len(line)} bytes"


def test_compact_line_has_driver_required_fields():
    c = compact_line(_detail_fixture())
    assert c["metric"] == "headline_suite_seconds"
    assert c["value"] == 20.6
    assert len(c["queries"]) == 17
    assert c["streaming"]["words_per_sec_median"] == 2_360_000
    assert c["streaming"]["latency_ms"]["p50"] == 2_301
    assert c["streaming"]["recovery_sec"] == 2.97
    assert c["streaming"]["exactly_once_ok"] is True
    # the bulky sections must NOT leak into the stdout line
    assert "sf1" not in c and "suite_passes" not in c
    assert "last5" not in json.dumps(c)


def test_compact_line_preserves_degenerate_flag():
    c = compact_line(_detail_fixture(degenerate=True))
    assert c["streaming"]["latency_ms"]["degenerate_window"] is True


# --- r09: capacity-margin floor guard (VERDICT r08 #8) ---------------------

def test_capacity_margin_floor_flags_low_margin():
    from bench import capacity_margin_low

    assert capacity_margin_low({"margin_vs_reference_rate": 1.29})
    assert capacity_margin_low({"margin_vs_reference_rate": 0.9})


def test_capacity_margin_floor_passes_healthy_margin():
    from bench import capacity_margin_low

    # r08's moved-wrong number (1.50x) still clears the 1.3x floor: the
    # guard is for regressions past it, not for host noise inside it.
    assert not capacity_margin_low({"margin_vs_reference_rate": 1.50})
    assert not capacity_margin_low({"margin_vs_reference_rate": 1.71})


def test_capacity_margin_floor_flags_unmeasured_margin():
    from bench import capacity_margin_low

    # a probe that produced no margin must not pass silently
    assert capacity_margin_low({"margin_vs_reference_rate": None})
    assert capacity_margin_low({})


def test_compact_line_carries_capacity_floor_flag():
    d = _detail_fixture()
    d["streaming"]["live_capacity"] = {
        "margin_vs_reference_rate": 1.1,
        "margin_below_floor": True,
    }
    c = compact_line(d)
    assert c["streaming"]["capacity_margin"] == 1.1
    assert c["streaming"]["capacity_margin_below_floor"] is True
    # ...and the flag is ABSENT (not False) when the floor holds, keeping
    # the compact line inside the driver capture budget
    d["streaming"]["live_capacity"] = {"margin_vs_reference_rate": 1.6}
    assert "capacity_margin_below_floor" not in compact_line(d)["streaming"]


# --- r09: median-of-windows headline policy (VERDICT r08 #2) ---------------

def test_median_helper():
    from bench import _median

    assert _median([3.0, 1.0, 2.0]) == 2.0
    assert _median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert _median([None, 5.0]) == 5.0
    assert _median([None]) is None
    assert _median([]) is None


def test_pick_takes_index_q_times_n():
    """Every published bench percentile is the sample at index
    ``min(n - 1, int(q * n))`` of the sorted list (p50 = the upper median)."""
    from bench import pick

    for n, q, index in [
        (1, 0.5, 0), (1, 0.99, 0),
        (2, 0.5, 1), (2, 0.99, 1),
        (100, 0.5, 50), (100, 0.99, 99),
    ]:
        assert pick(list(range(n)), q) == index


def test_window_ledger_median_is_round_scoped(tmp_path):
    """The ledger tags entries by round (1 + latest BENCH_r*.json) so a new
    round starts a fresh window pool without any cleanup step."""
    from bench import _window_ledger_update, _median

    (tmp_path / "BENCH_r01.json").write_text("{}")
    w1 = _window_ledger_update(20.0, 4_000_000, 0.5, root=tmp_path)
    w2 = _window_ledger_update(30.0, 5_000_000, 0.5, root=tmp_path)
    assert [w["suite_seconds"] for w in w2] == [20.0, 30.0]
    assert _median([w["suite_seconds"] for w in w2]) == 25.0
    assert all(w["round"] == 2 for w in w2)
    # the driver records the round artifact -> the next run starts round 3
    (tmp_path / "BENCH_r02.json").write_text("{}")
    w3 = _window_ledger_update(40.0, 6_000_000, 0.5, root=tmp_path)
    assert [w["suite_seconds"] for w in w3] == [40.0]
    assert all(w["round"] == 3 for w in w3)
    assert len(w1) == 1


def test_window_ledger_carries_capacity_margin(tmp_path):
    """VERDICT r11 #1: the 1.3x capacity floor must be ledger-auditable —
    every window row records its margin, Nones (pre-r12 rows, skipped
    probes) don't drag the median, and the median is what the floor is
    adjudicated on."""
    from bench import _median, _window_ledger_update

    (tmp_path / "BENCH_r11.json").write_text("{}")
    _window_ledger_update(20.0, 4e6, 0.5, root=tmp_path, capacity_margin=1.52)
    _window_ledger_update(21.0, 4e6, 0.5, root=tmp_path, capacity_margin=None)
    w = _window_ledger_update(22.0, 4e6, 0.5, root=tmp_path, capacity_margin=1.18)
    assert [x["capacity_margin"] for x in w] == [1.52, None, 1.18]
    assert _median([x.get("capacity_margin") for x in w]) == 1.35


def test_compact_line_carries_capacity_median_floor_flag():
    d = _detail_fixture()
    d["streaming"]["capacity_margin_median"] = 1.21
    d["streaming"]["capacity_margin_median_below_floor"] = True
    c = compact_line(d)["streaming"]
    assert c["capacity_margin_median"] == 1.21
    assert c["capacity_margin_median_below_floor"] is True
    d["streaming"]["capacity_margin_median"] = 1.45
    d["streaming"]["capacity_margin_median_below_floor"] = False
    c = compact_line(d)["streaming"]
    assert "capacity_margin_median_below_floor" not in c


def test_capacity_knee_ladder_stops_at_flattening(monkeypatch):
    """The knee ladder climbs until a rung's drain is within 10% of the
    previous rung's, records the peak as the knee and marks it bounded;
    rungs past the flattening never run (VERDICT r09 #7)."""
    import bench

    drains = {40000: 28000, 64000: 42000, 104000: 51000, 168000: 33000}
    ran = []

    def fake_capacity(spark, probe_rate, run_sec):
        ran.append(probe_rate)
        return {
            "probe_rows_per_sec": probe_rate,
            "drained_rows_per_exec_sec": drains[probe_rate],
        }

    monkeypatch.setattr(bench, "bench_capacity", fake_capacity)
    monkeypatch.setattr(bench, "_unload_state_stores", lambda s: None)
    base = {"probe_rows_per_sec": 25000, "drained_rows_per_exec_sec": 19000}
    out = bench.bench_capacity_knee(None, base)
    assert ran == [40000, 64000, 104000, 168000]  # climbed to the flat rung
    assert out["flat"] is True and out["bounded"] is True
    assert out["knee_rows_per_exec_sec"] == 51000  # the PEAK, not the last
    assert out["knee_words_per_sec"] == 51000 * bench.SENTENCE_SIZE
    assert len(out["points"]) == 5  # base + 4 rungs


def test_capacity_knee_early_stop_skips_higher_rungs(monkeypatch):
    """A rung within 10% of its predecessor ends the climb immediately."""
    import bench

    drains = {40000: 20500}  # within 10% of the 19k base: knee at once
    ran = []

    def fake_capacity(spark, probe_rate, run_sec):
        ran.append(probe_rate)
        return {
            "probe_rows_per_sec": probe_rate,
            "drained_rows_per_exec_sec": drains[probe_rate],
        }

    monkeypatch.setattr(bench, "bench_capacity", fake_capacity)
    monkeypatch.setattr(bench, "_unload_state_stores", lambda s: None)
    base = {"probe_rows_per_sec": 25000, "drained_rows_per_exec_sec": 19000}
    out = bench.bench_capacity_knee(None, base)
    assert ran == [40000]  # 64k/104k/168k never ran
    assert out["flat"] is True and out["knee_rows_per_exec_sec"] == 20500


def test_capacity_knee_unbounded_when_still_climbing(monkeypatch):
    """If even the top rung climbs >10%, the artifact must say the knee is
    unbounded (capacity >= best drain) instead of faking a knee."""
    import bench

    def fake_capacity(spark, probe_rate, run_sec):
        return {
            "probe_rows_per_sec": probe_rate,
            "drained_rows_per_exec_sec": probe_rate * 3 // 4,  # tracks offer
        }

    monkeypatch.setattr(bench, "bench_capacity", fake_capacity)
    monkeypatch.setattr(bench, "_unload_state_stores", lambda s: None)
    base = {"probe_rows_per_sec": 25000, "drained_rows_per_exec_sec": 19000}
    out = bench.bench_capacity_knee(None, base)
    assert out["flat"] is False and out["bounded"] is False
    # top rung of the r11-extended ladder (VERDICT r10 #4)
    assert out["knee_rows_per_exec_sec"] == 416000 * 3 // 4


def test_capacity_knee_bounded_none_on_measurement_failure(monkeypatch):
    """A rung that fails to measure must yield bounded=None, not False —
    a consumer reading only the scalar must not mistake a measurement
    failure for 'still climbing = headroom' (ADVICE r10)."""
    import bench

    def fake_capacity(spark, probe_rate, run_sec):
        return {
            "probe_rows_per_sec": probe_rate,
            "drained_rows_per_exec_sec": None,  # degenerate rung
        }

    monkeypatch.setattr(bench, "bench_capacity", fake_capacity)
    monkeypatch.setattr(bench, "_unload_state_stores", lambda s: None)
    base = {"probe_rows_per_sec": 25000, "drained_rows_per_exec_sec": 19000}
    out = bench.bench_capacity_knee(None, base)
    assert out["measurement_failed"] is True
    assert out["bounded"] is None and out["flat"] is None


def test_window_ledger_carries_latency_percentiles(tmp_path):
    """VERDICT r12 #2: the latency percentiles must be ledger-auditable —
    every window row records p50/p95/p99, pre-r13 rows (no latency keys)
    don't drag the median, and the published number is the median across
    windows, same policy as suite/words/capacity."""
    from bench import _median, _window_ledger_update

    (tmp_path / "BENCH_r12.json").write_text("{}")
    _window_ledger_update(
        20.0, 4e6, 0.5, root=tmp_path,
        latency={"p50": 1459, "p95": 1925, "p99": 2127},
    )
    _window_ledger_update(21.0, 4e6, 0.5, root=tmp_path, latency=None)
    w = _window_ledger_update(
        22.0, 4e6, 0.5, root=tmp_path,
        latency={"p50": 1754, "p95": 2343, "p99": 2616},
    )
    assert [x["latency_p50_ms"] for x in w] == [1459, None, 1754]
    assert _median([x.get("latency_p50_ms") for x in w]) == 1606.5
    assert _median([x.get("latency_p99_ms") for x in w]) == 2371.5


def test_quiet_pool_excludes_contended_windows(tmp_path):
    """VERDICT r12 #5: a window recorded under load (contended=True) stays
    in the ledger but is excluded from every published median, with the
    exclusion count surfaced; if EVERY window was contended the full pool
    is used rather than publishing nothing."""
    from bench import _median, _window_ledger_update, quiet_pool

    (tmp_path / "BENCH_r12.json").write_text("{}")
    _window_ledger_update(18.0, 4e6, 0.4, root=tmp_path, contended=False)
    _window_ledger_update(29.3, 4e6, 1.96, root=tmp_path, contended=True)
    w = _window_ledger_update(20.0, 4e6, 0.5, root=tmp_path, contended=False)
    pool, n_excluded, all_contended = quiet_pool(w)
    assert n_excluded == 1 and not all_contended
    assert [x["suite_seconds"] for x in pool] == [18.0, 20.0]
    assert _median([x["suite_seconds"] for x in pool]) == 19.0
    # pre-r13 rows carry no flag and count as quiet
    legacy = [{"suite_seconds": 20.0}, {"suite_seconds": 21.0}]
    pool, n_excluded, all_contended = quiet_pool(legacy)
    assert len(pool) == 2 and n_excluded == 0 and not all_contended
    # all-contended fallback: publish the honest loaded numbers, with an
    # EXPLICIT flag — exclusion count 0 alone is ambiguous (ADVICE r13)
    loaded = [{"contended": True, "suite_seconds": 30.0}]
    pool, n_excluded, all_contended = quiet_pool(loaded)
    assert pool == loaded and n_excluded == 0 and all_contended
    # empty pool is not "all contended"
    assert quiet_pool([]) == ([], 0, False)


def test_window_ledger_carries_per_query_times(tmp_path):
    """VERDICT r13 'what's wrong' #1: per-query suite times were the last
    headline series still published from a single window — every ledger
    row now records the per-query map, the published `queries` field is
    the per-query MEDIAN across quiet windows, pre-r14 rows (no queries
    key) don't contribute, and a query missing from one window's map
    doesn't drag the others."""
    from bench import _window_ledger_update, pool_windows

    (tmp_path / "BENCH_r13.json").write_text("{}")
    _window_ledger_update(20.0, 4e6, 0.5, root=tmp_path)  # pre-r14 row
    _window_ledger_update(
        21.0, 4e6, 0.5, root=tmp_path, queries={"q1": 1.0, "q2": 4.0}
    )
    w = _window_ledger_update(
        22.0, 4e6, 0.5, root=tmp_path, queries={"q1": 3.0}
    )
    assert [x.get("queries") for x in w] == [
        None,
        {"q1": 1.0, "q2": 4.0},
        {"q1": 3.0},
    ]
    assert pool_windows(w)["queries"] == ({"q1": 2.0, "q2": 4.0}, 2)


def test_compact_line_carries_per_query_pool_size():
    """The compact line's `queries` map is medians-of-windows as of r14;
    n_query_windows rides along so a single-window round is readable as
    such, and the all-contended fallback is explicit (ADVICE r13)."""
    d = _detail_fixture()
    d["n_query_windows"] = 3
    c = compact_line(d)
    assert c["n_query_windows"] == 3
    assert "all_windows_contended" not in c
    d["all_windows_contended"] = True
    assert compact_line(d)["all_windows_contended"] is True


def test_compact_line_carries_latency_medians_and_exclusions():
    d = _detail_fixture()
    d["streaming"]["latency_p50_ms_median"] = 1606.5
    d["streaming"]["latency_p95_ms_median"] = 2134.0
    d["streaming"]["latency_p99_ms_median"] = 2371.5
    d["n_windows_contended_excluded"] = 1
    c = compact_line(d)
    assert c["streaming"]["latency_ms"]["p50_median"] == 1606.5
    assert c["streaming"]["latency_ms"]["p99_median"] == 2371.5
    assert c["n_windows_contended_excluded"] == 1
    # absent (not 0) when nothing was excluded, keeping the line small
    d["n_windows_contended_excluded"] = 0
    assert "n_windows_contended_excluded" not in compact_line(d)
    # still inside the driver capture budget with the new fields
    assert len(json.dumps(c)) <= 1_500


def test_window_ledger_sf1_ratio_median(tmp_path):
    """sf1 scale ratios pool across the round's windows exactly like the
    suite headline (VERDICT r10 #2): the published ratio is the median,
    and windows without an sf1 leg don't contribute."""
    from bench import _window_ledger_update, pool_windows

    (tmp_path / "BENCH_r01.json").write_text("{}")
    _window_ledger_update(
        20.0, 4e6, 0.5, root=tmp_path, sf1_ratios={"a": 4.1, "b": 2.0}
    )
    _window_ledger_update(21.0, 4e6, 0.5, root=tmp_path, sf1_ratios=None)
    windows = _window_ledger_update(
        22.0, 4e6, 0.5, root=tmp_path, sf1_ratios={"a": 2.9, "b": 2.4}
    )
    # the no-sf1 window contributes nothing
    assert pool_windows(windows)["sf1_scaleup_ratio"] == ({"a": 3.5, "b": 2.2}, 2)


def test_pool_windows_gives_the_published_medians():
    """One reducer over the declared fields yields exactly the medians
    bench.main() publishes for this quiet pool: suite `value`, streaming
    words/s, capacity and latency medians, the per-query map with
    n_query_windows, and both sf1 ratio series with their window counts.
    None values and windows without a map don't contribute; the contended
    window is dropped before pooling."""
    from bench import pool_windows, quiet_pool

    windows = [
        {
            "suite_seconds": 18.0,
            "words_per_sec_median": 3e6,
            "capacity_margin": 1.4,
            "latency_p50_ms": 1500,
            "latency_p95_ms": 2000,
            "latency_p99_ms": 2500,
            "queries": {"q1": 1.0, "q2": 4.0},
            "sf1_scaleup_ratio": {"a": 4.1, "b": 2.0},
            "sf1_warm_ratio": {"a": 2.0},
        },
        {
            "suite_seconds": 45.0,
            "contended": True,
            "words_per_sec_median": 0.4e6,
            "queries": {"q1": 9.0},
        },
        {
            "suite_seconds": 21.0,
            "words_per_sec_median": None,
            "capacity_margin": None,
            "latency_p50_ms": None,
            "queries": {"q1": 3.0},
            "sf1_scaleup_ratio": None,
            "sf1_warm_ratio": {"a": 2.5, "c": 1.1},
        },
        {
            "suite_seconds": 20.0,
            "words_per_sec_median": 5e6,
            "capacity_margin": 1.2,
            "latency_p50_ms": 1700,
            "latency_p95_ms": 2100,
            "latency_p99_ms": 2600,
            "sf1_scaleup_ratio": {"a": 2.9, "b": 2.4},
        },
    ]
    pool, n_excluded, _ = quiet_pool(windows)
    assert n_excluded == 1
    assert pool_windows(pool) == {
        "suite_seconds": 20.0,
        "words_per_sec_median": 4_000_000.0,
        "capacity_margin": 1.3,
        "latency_p50_ms": 1600.0,
        "latency_p95_ms": 2050.0,
        "latency_p99_ms": 2550.0,
        "queries": ({"q1": 2.0, "q2": 4.0}, 2),
        "sf1_scaleup_ratio": ({"a": 3.5, "b": 2.2}, 2),
        "sf1_warm_ratio": ({"a": 2.25, "c": 1.1}, 2),
    }
    # a pool with no maps at all: empty medians, zero windows
    assert pool_windows([{"suite_seconds": 19.0}])["queries"] == ({}, 0)


def test_adaptive_warmup_stops_when_flat():
    """Prepay discards runs only while the rate keeps climbing >20%."""
    from bench import adaptive_warmup_rates

    feed = iter([4_000_000, 4_100_000])  # cold -> flat: stop at 2
    assert adaptive_warmup_rates(lambda: next(feed)) == [4_000_000, 4_100_000]


def test_adaptive_warmup_follows_the_cliff():
    """A mid-prepay JIT jump (the r11 window-3 shape) earns a third run."""
    from bench import adaptive_warmup_rates

    feed = iter([4_000_000, 9_000_000, 9_200_000])
    assert adaptive_warmup_rates(lambda: next(feed)) == [
        4_000_000,
        9_000_000,
        9_200_000,
    ]


def test_adaptive_warmup_caps_total_runs():
    """A pathologically always-climbing sequence still stops at the cap —
    the prepay can never consume unbounded bench time."""
    from bench import adaptive_warmup_rates

    feed = iter([1, 10, 100, 1000, 10000])
    assert adaptive_warmup_rates(lambda: next(feed)) == [1, 10, 100]


# --- r15: controlled-warm sf1 ratio series + always-on n_query_windows ----
# (VERDICT r14 #3 / ADVICE r14)

def test_compact_line_always_emits_n_query_windows():
    """ADVICE r14: n_query_windows == 0 must be EMITTED, not omitted — it is
    the only marker that the `queries` map is a single non-pooled (possibly
    contended) window's raw timings rather than a pooled median."""
    d = _detail_fixture()
    d["n_query_windows"] = 0
    assert compact_line(d)["n_query_windows"] == 0
    d["n_query_windows"] = 13
    assert compact_line(d)["n_query_windows"] == 13
    assert compact_line(_detail_fixture())["n_query_windows"] == 0


def _warm_sf1_fixture():
    names = [
        "dedup_shared_spans_hashed",
        "q3_shipping_priority",
        "ev_rolling_active_users",
        "dedup_minhash_verified",
        "curation_end_to_end",
    ]
    return {
        "warm_ratio": {n: 2.1 for n in names},
        "warm_ratio_median_windows": {n: 2.22 for n in names},
        "n_warm_ratio_windows": 3,
        "scaleup_ratio_median_windows": {n: 3.0 for n in names},
        "controlled_warm": {
            n: {"sf01_min3_sec": 1.5, "sf1_min3_sec": 3.3, "ratio": 2.2}
            for n in names
        },
    }


def test_compact_line_carries_both_sf1_series():
    """VERDICT r14 #3: BENCH_r15 (the driver-parsed stdout line) must carry
    the controlled-warm ratio medians as the headline scale-up series AND
    the window-sampled medians for the same queries as context."""
    d = _detail_fixture()
    d["sf1"] = _warm_sf1_fixture()
    c = compact_line(d)
    assert c["sf1_warm_ratio_median"]["dedup_shared_spans_hashed"] == 2.22
    assert c["n_sf1_warm_windows"] == 3
    assert c["sf1_window_ratio_median_context"]["dedup_shared_spans_hashed"] == 3.0
    # still within the driver's tail-capture budget with every field present
    assert len(json.dumps(c)) <= 1_500


def test_compact_line_warm_falls_back_to_this_window():
    """First window of a round: no pooled medians yet — the line quotes this
    window's own warm ratios rather than nothing."""
    d = _detail_fixture()
    d["sf1"] = {"warm_ratio": {"curation_end_to_end": 1.9}}
    c = compact_line(d)
    assert c["sf1_warm_ratio_median"] == {"curation_end_to_end": 1.9}
    assert c["n_sf1_warm_windows"] == 0
    # sf1 leg skipped entirely -> no warm keys at all
    c2 = compact_line(_detail_fixture())
    assert "sf1_warm_ratio_median" not in c2


def test_window_ledger_carries_warm_ratio(tmp_path):
    """The warm series must be ledgered per window (same policy as every
    headline) so its round median is recomputable from BENCH_WINDOWS.jsonl."""
    from bench import _window_ledger_update

    w = _window_ledger_update(
        20.0,
        4_000_000,
        0.5,
        root=tmp_path,
        sf1_warm_ratios={"dedup_shared_spans_hashed": 2.2},
    )
    assert w[-1]["sf1_warm_ratio"] == {"dedup_shared_spans_hashed": 2.2}


def test_sf1_warm_queries_are_registered():
    from bench import SF1_WARM_QUERIES, SF1_QUERIES
    from flink_wordcount_spark.plans import QUERIES

    assert set(SF1_WARM_QUERIES) <= set(QUERIES)
    # the warm set measures scale-up, so every member must also be in the
    # single-shot probe (the context series)
    assert set(SF1_WARM_QUERIES) <= set(SF1_QUERIES)
