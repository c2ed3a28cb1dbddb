"""Metric math over recorded crawl manifests and Spark event logs.

Pure functions of their inputs, so the tests can replay recorded
manifests and event-log lines without Spark.
"""

from __future__ import annotations

import json
import statistics


def median(xs) -> float:
    return float(statistics.median(xs))


# ---- end-to-end metrics from the steady rounds -------------------------

def steady_stats(manifests: list[dict], first_round: int) -> dict:
    """Throughput and round-time figures over the steady rounds, those
    from ``first_round`` on; earlier rounds are set-up.  Throughput is
    the median of the rounds' own rates."""
    steady = [m for m in manifests if m["round"] >= first_round]
    if not steady:
        raise ValueError("no steady round among the manifests")
    return {
        "urls_per_s": median(m["fetched"] / m["elapsed_sec"] for m in steady),
        "round_s_p50": median(m["elapsed_sec"] for m in steady),
        "round_s_max": max(m["elapsed_sec"] for m in steady),
        "fetched": sum(m["fetched"] for m in steady),
    }


# ---- per-layer metrics from the manifests ------------------------------

def _phase(m: dict, name: str) -> float:
    return float(m.get("phase_sec", {}).get(name, 0.0))


def write_snapshots_s(m: dict) -> float:
    """Fetched plus blocked snapshot writes of one round.

    On the plain-frontier path the two writes run concurrently and the
    blocked write's time lands in ``write_fetched`` (its own mark reads
    about 0), so only their sum is comparable across frontier modes.
    """
    return _phase(m, "write_fetched") + _phase(m, "write_blocked")


def plan_s(m: dict) -> float:
    """Driver time before the round's first write: the wait for the
    previous round's asynchronous Bloom absorb plus planning.  The wait
    alone reads 0.000 at manifest precision whenever the absorb
    finished in time."""
    return _phase(m, "bloom_wait") + _phase(m, "plan")


def rows_read(m: dict, prev_next_frontier: int) -> int:
    """Frontier rows the round's candidate pipeline read.

    A band-pruned round reads only its lowest units; every other round
    (the plain frontier, round 0, an unpruned or fallback round) reads
    the whole frontier the previous round left.
    """
    if read_whole_frontier(m):
        return int(prev_next_frontier)
    return int(m["band_prune"]["rows_read"])


def read_whole_frontier(m: dict) -> bool:
    """True when the round's candidate pipeline read every live row: the
    plain frontier, and a band-pruned round that did not prune or fell
    back."""
    bp = m.get("band_prune") or {}
    return bp.get("rows_read") is None or bool(m.get("prune_fallback"))


def compaction_times(manifests: list[dict]) -> dict:
    """Wall time per compaction, one sample per compaction event.

    The seen set compacts every few rounds (phase ``compact_seen``).
    The frontier is compacted whenever it is rewritten whole: a
    frontier-log fold (phase ``frontier_compact``), or the
    ``write_next_frontier`` of a round that read every live row, since
    that write then replaces the entire frontier.
    """
    seen = [_phase(m, "compact_seen") for m in manifests if "compact_seen" in m["phase_sec"]]
    front = []
    for m in manifests:
        if "frontier_compact" in m["phase_sec"]:
            front.append(_phase(m, "frontier_compact"))
        elif read_whole_frontier(m):
            front.append(_phase(m, "write_next_frontier"))
    return {"compact_seen": seen, "frontier_compact": front}


def flog_stats(manifests: list[dict]) -> dict:
    """Frontier-log figures: share of live rows read, fallbacks, and
    live generations after each round (a plain frontier reads every
    row and has one generation)."""
    read = passed = 0
    gens = []
    fallbacks = 0
    for m in manifests:
        bp = m.get("band_prune") or {}
        fl = m.get("frontier_log")
        fallbacks += bool(m.get("prune_fallback"))
        if fl is None:
            gens.append(1)
            continue
        gens.append(len({u["gen"] for u in fl["live"]}))
        if not read_whole_frontier(m):
            read += int(bp["rows_read"])
            passed += int(bp.get("rows_passthrough", 0))
    frac = read / (read + passed) if read + passed else 1.0
    return {
        "rows_read_frac": frac,
        "fallbacks": fallbacks,
        "live_generations": median(gens),
    }


def frontier_stats(manifests: list[dict], first_prev_frontier: int) -> dict:
    """Per-round frontier work: rows read, useful fetches per row read,
    politeness-blocked rows and the next frontier's size."""
    prev = first_prev_frontier
    read, ratio = [], []
    for m in manifests:
        r = rows_read(m, prev)
        read.append(r)
        ratio.append(m["fetched"] / r if r else 0.0)
        prev = m["next_frontier"]
    return {
        "rows_read_per_round": median(read),
        "fetched_per_row_read": sum(m["fetched"] for m in manifests) / max(1, sum(read)),
        "blocked_per_round": median(m["blocked"] for m in manifests),
        "next_frontier_rows": median(m["next_frontier"] for m in manifests),
    }


# ---- Spark event log ---------------------------------------------------

def parse_event_log(lines) -> list[dict]:
    """Task records (launch/finish epoch ms, run/GC time, shuffle write
    and spill bytes) from a Spark event log's JSON lines."""
    tasks = []
    for line in lines:
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        info = ev.get("Task Info", {})
        tm = ev.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        tasks.append({
            "launch_ms": info.get("Launch Time", 0),
            "finish_ms": info.get("Finish Time", 0),
            "run_ms": tm.get("Executor Run Time", 0),
            "gc_ms": tm.get("JVM GC Time", 0),
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        })
    return tasks


def spark_window_stats(
    tasks: list[dict], windows: list[tuple[float, float]], cores: int
) -> dict:
    """Task-level figures over the tasks that finished inside the
    windows (epoch ms).

    ``task_busy_frac`` is task wall time inside the windows over window
    wall time times cores; ``gc_frac`` is JVM GC time over task run time.
    """
    win = [t for t in tasks if any(a <= t["finish_ms"] <= b for a, b in windows)]
    busy = sum(
        max(0.0, min(t["finish_ms"], b) - max(t["launch_ms"], a))
        for t in win
        for a, b in windows
    )
    wall = sum(b - a for a, b in windows)
    run = sum(t["run_ms"] for t in win)
    return {
        "tasks": len(win),
        "task_busy_frac": busy / max(1e-9, wall * cores),
        "gc_frac": sum(t["gc_ms"] for t in win) / run if run else 0.0,
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in win),
        "spill_bytes": sum(t["spill_bytes"] for t in win),
    }
