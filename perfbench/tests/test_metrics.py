"""Metric math over recorded manifests and event-log lines."""

import json
import statistics

import pytest

from perfbench import metrics


def _m(r, fetched, elapsed, *, phases=None, blocked=0, nxt=100, **extra):
    return {
        "round": r,
        "fetched": fetched,
        "blocked": blocked,
        "next_frontier": nxt,
        "elapsed_sec": elapsed,
        "phase_sec": phases or {},
        **extra,
    }


def test_steady_stats_skip_the_warmup_rounds():
    ms = [_m(0, 1000, 9.0), _m(1, 300, 7.0), _m(2, 500, 5.0), _m(3, 400, 2.0), _m(4, 300, 3.0)]
    st = metrics.steady_stats(ms, 2)
    # the median of the rates 100, 200 and 100 URL/s
    assert st["urls_per_s"] == pytest.approx(100.0)
    assert st["round_s_p50"] == 3.0
    assert st["round_s_max"] == 5.0
    assert st["fetched"] == 1200


def test_steady_stats_needs_a_steady_round():
    with pytest.raises(ValueError):
        metrics.steady_stats([_m(0, 10, 1.0), _m(1, 10, 1.0)], 2)


def test_write_snapshots_sums_fetched_and_blocked():
    # plain-frontier path: the blocked write overlaps the fetched one
    m = _m(1, 10, 1.0, phases={"write_fetched": 2.5, "write_blocked": 0.001})
    assert metrics.write_snapshots_s(m) == pytest.approx(2.501)
    assert metrics.write_snapshots_s(_m(1, 10, 1.0, phases={"plan": 1.0})) == 0.0


def test_plan_includes_the_bloom_wait():
    m = _m(1, 10, 1.0, phases={"bloom_wait": 0.25, "plan": 0.5, "write_fetched": 3.0})
    assert metrics.plan_s(m) == pytest.approx(0.75)


def test_rows_read_pruned_unpruned_and_fallback():
    pruned = _m(2, 10, 1.0, band_prune={"rows_read": 40, "rows_passthrough": 60})
    assert metrics.rows_read(pruned, 100) == 40
    assert metrics.rows_read(_m(2, 10, 1.0, band_prune={"pruned": False}), 100) == 100
    fallback = _m(2, 10, 1.0, band_prune={"rows_read": 40}, prune_fallback=True)
    assert metrics.rows_read(fallback, 100) == 100
    assert metrics.rows_read(_m(1, 10, 1.0), 77) == 77


def test_compactions_are_reported_per_event():
    pruned = {"band_prune": {"rows_read": 10, "rows_passthrough": 90}}
    ms = [
        _m(1, 1, 1.0, phases={"compact_seen": 0.4, "write_next_frontier": 2.0}, **pruned),
        _m(2, 1, 1.0, phases={"frontier_compact": 1.5, "write_next_frontier": 3.0}, **pruned),
        _m(3, 1, 1.0, phases={"compact_seen": 0.6, "write_next_frontier": 4.0}, **pruned),
    ]
    assert metrics.compaction_times(ms) == {"compact_seen": [0.4, 0.6], "frontier_compact": [1.5]}
    # a round that read the whole frontier rewrote all of it: the plain
    # frontier, an unpruned band-pruned round, and a fallback round
    whole = [
        _m(1, 1, 1.0, phases={"write_next_frontier": 2.0}),
        _m(2, 1, 1.0, phases={"write_next_frontier": 3.0}, band_prune={"pruned": False}),
        _m(3, 1, 1.0, phases={"write_next_frontier": 4.0}, prune_fallback=True, **pruned),
    ]
    assert metrics.compaction_times(whole)["frontier_compact"] == [2.0, 3.0, 4.0]


def test_flog_stats():
    live = {"live": [{"gen": 1, "band": 0, "rows": 5}, {"gen": 2, "band": 0, "rows": 5},
                     {"gen": 2, "band": 1, "rows": 5}]}
    ms = [
        _m(1, 1, 1.0, band_prune={"rows_read": 30, "rows_passthrough": 70}, frontier_log=live),
        _m(2, 1, 1.0, band_prune={"rows_read": 10, "rows_passthrough": 90},
           prune_fallback=True, frontier_log=live),
    ]
    st = metrics.flog_stats(ms)
    assert st["rows_read_frac"] == pytest.approx(0.3)
    assert st["fallbacks"] == 1
    assert st["live_generations"] == 2
    plain = metrics.flog_stats([_m(1, 1, 1.0), _m(2, 1, 1.0)])
    assert plain == {"rows_read_frac": 1.0, "fallbacks": 0, "live_generations": 1}


def test_frontier_stats_chain_previous_frontier():
    ms = [_m(1, 50, 1.0, blocked=2, nxt=400), _m(2, 100, 1.0, blocked=4, nxt=600)]
    st = metrics.frontier_stats(ms, first_prev_frontier=200)
    assert st["rows_read_per_round"] == statistics.median([200, 400])
    assert st["fetched_per_row_read"] == pytest.approx(150 / 600)
    assert st["blocked_per_round"] == 3
    assert st["next_frontier_rows"] == 500


def _task_end(launch, finish, run, gc, shuffle, spill):
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


def test_event_log_window_stats():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart"}),
        _task_end(1000, 3000, 1800, 100, 500, 0),
        _task_end(2000, 4000, 2000, 300, 700, 64),
        _task_end(9000, 9500, 400, 0, 1, 0),  # outside the window
    ]
    tasks = metrics.parse_event_log(lines)
    assert len(tasks) == 3
    st = metrics.spark_window_stats(tasks, [(1000, 5000)], cores=2)
    assert st["tasks"] == 2
    assert st["task_busy_frac"] == pytest.approx((2000 + 2000) / (4000 * 2))
    assert st["gc_frac"] == pytest.approx(400 / 3800)
    assert st["shuffle_write_bytes"] == 1200
    assert st["spill_bytes"] == 64
    # two windows: busy time counts only inside them
    two = metrics.spark_window_stats(tasks, [(1000, 2500), (8000, 10000)], cores=1)
    assert two["tasks"] == 1
    assert two["task_busy_frac"] == pytest.approx(500 / (1500 + 2000))
