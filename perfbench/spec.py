"""Metric names, units and directions; BENCHMARK.json lists the same."""

from __future__ import annotations

from .analytics import QUERIES

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "urls_per_s": ("URL/s", "higher"),
    "round_s_p50": ("s", "lower"),
    "resume_s": ("s", "lower"),
    "state_bytes_per_url": ("B/URL", "lower"),
    "cpu_s_per_kurl": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "crawler.round_s_max": ("s", "lower"),
    "crawler.write_snapshots_s": ("s", "lower"),
    "crawler.write_next_frontier_s": ("s", "lower"),
    "crawler.plan_s": ("s", "lower"),
    "crawler.counts_s": ("s", "lower"),
    "crawler.compact_seen_s": ("s", "lower"),
    "crawler.frontier_compact_s": ("s", "lower"),
    "crawler.bytes_written_per_round": ("B", "lower"),
    "crawler.resume_bootstrap_s": ("s", "lower"),
    "crawler.flog.rows_read_frac": ("ratio", "lower"),
    "crawler.flog.fallbacks": ("count", "lower"),
    "crawler.flog.live_generations": ("count", "lower"),
    "frontier.rows_read_per_round": ("count", "lower"),
    "frontier.fetched_per_row_read": ("ratio", "higher"),
    "frontier.blocked_per_round": ("count", "lower"),
    "frontier.next_frontier_rows": ("count", "lower"),
    "bloom.add_s_per_mrow": ("s", "lower"),
    "bloom.probe_s_per_mrow": ("s", "lower"),
    "bloom.maybe_seen_frac": ("ratio", "lower"),
    "bloom.false_pos_frac": ("ratio", "lower"),
    "urls.canon_s_per_mlink": ("s", "lower"),
    "fetch.kernel_s_per_kurl": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "spark.task_busy_frac": ("ratio", "higher"),
    "spark.gc_frac": ("ratio", "lower"),
    "spark.shuffle_write_bytes_per_url": ("B/URL", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    **{f"q.{q}_s": ("s", "lower") for q in QUERIES},
    "q.suite_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}
