"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the program.  The run builds its
inputs from ``--seed``, starts Spark on ``local[N]``, N being half the
cores available, times the workload (see crawl.py), checks every output against the
sequential oracle, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  A traced run also records the Spark event log, probes
single layers and times the analytics query suite.  All temporary state
lives under ``.perfbench_tmp/`` in the checkout and is removed at exit;
untraced results are kept under ``.perfbench_results/``, next to the
cached oracle answers, so a traced run of the same workload, seed and
code can state its own overhead.  The exit code is 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RESULTS = os.path.join(ROOT, ".perfbench_results")
DRIVER_MEM = "2g"



def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cores() -> int:
    """Spark's task slots: half the cores this process may use, so the
    JVM's own threads, the Python driver and the Python workers do not
    queue behind the tasks."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _code_digest() -> str:
    """Digest of the program's and the benchmark's source, so a saved
    result is only ever read back by the code that produced it."""
    h = hashlib.sha1()
    files = glob.glob(os.path.join(ROOT, "llm_scraper_spark", "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(HERE, "*.py")) + [os.path.join(ROOT, "__spark_entry__.py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _saved_result_path(args) -> str:
    return os.path.join(
        RESULTS, f"{args.workload}-{args.seed}-{args.seconds}-{_code_digest()}.json"
    )


def _untraced_urls_per_s(args) -> float:
    """Untraced ``urls_per_s`` of this workload and seed on this code:
    the saved result of an earlier run, else a fresh untraced run."""
    path = _saved_result_path(args)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=170)
    with open(path) as f:
        return json.load(f)["metrics"]["urls_per_s"]["value"]


def _layer_metrics(run, res, spark, args) -> tuple[dict, list[str]]:
    """Per-layer figures of a traced run, plus any failed checks."""
    from perfbench import analytics, layers, metrics

    out: dict = {}
    steady = res["steady"]
    med = metrics.median
    out["crawler.write_snapshots_s"] = med(metrics.write_snapshots_s(m) for m in steady)
    for phase in ("write_next_frontier", "counts"):
        out[f"crawler.{phase}_s"] = med(m["phase_sec"][phase] for m in steady)
    out["crawler.plan_s"] = med(metrics.plan_s(m) for m in steady)
    for k, v in metrics.compaction_times(steady).items():
        out[f"crawler.{k}_s"] = med(v) if v else 0.0
    out["crawler.round_s_max"] = res["stats"]["round_s_max"]
    out["crawler.bytes_written_per_round"] = res["bytes_per_round"]
    out["crawler.resume_bootstrap_s"] = med(
        r.end - r.start - r.manifest["elapsed_sec"] for r in res["reps"]
    )
    # every repetition does the same work, so the counts of one stand
    # for all
    for k, v in metrics.flog_stats(steady[:1]).items():
        out[f"crawler.flog.{k}"] = v
    for k, v in metrics.frontier_stats(steady[:1], res["warmup_last"]["next_frontier"]).items():
        out[f"frontier.{k}"] = v
    out.update(run.timed("probe.bloom", layers.bloom_probe, res["workdir"], run.cfg.band_prune))
    out.update(run.timed("probe.canon", layers.canon_probe, spark, res["workdir"]))
    out.update(run.timed("probe.fetch", layers.fetch_probe, res["workdir"]))
    suite = run.timed("queries", analytics.run_suite, spark, args.seed)
    for name, t in suite["q_s"].items():
        out[f"q.{name}_s"] = t
    out["q.suite_s"] = suite["suite_s"]
    return out, suite["errors"]


def _spark_metrics(tmp, windows_epoch, fetched, cores) -> dict:
    from perfbench import metrics

    lines = []
    for path in glob.glob(os.path.join(tmp, "eventlog", "**"), recursive=True):
        if os.path.isfile(path):
            with open(path) as f:
                lines.extend(f)
    tasks = metrics.parse_event_log(lines)
    st = metrics.spark_window_stats(
        tasks, [(a * 1000, b * 1000) for a, b in windows_epoch], cores
    )
    return {
        "spark.task_busy_frac": st["task_busy_frac"],
        "spark.gc_frac": st["gc_frac"],
        "spark.shuffle_write_bytes_per_url": st["shuffle_write_bytes"] / fetched,
        "spark.spill_bytes": st["spill_bytes"],
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the gateway JVM quits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def measure(args, tmp: str) -> tuple[dict, int, list[str], dict]:
    from llm_scraper_spark.session import get_spark
    from perfbench import analytics, crawl, procmon, spec

    cores = _cores()
    cfg = crawl.WORKLOADS[args.workload]
    extra = {"spark.local.dir": os.path.join(tmp, "local")}
    if args.trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + os.path.join(tmp, "eventlog")
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    epoch = time.time() - time.monotonic()
    sampler = procmon.TreeSampler().start()
    t0 = time.monotonic()
    spark = get_spark(
        f"perfbench-{args.workload}",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf=extra,
    )
    session_s = time.monotonic() - t0
    try:
        run = crawl.CrawlRun(spark, cfg, args.seed, args.seconds, tmp, cores, RESULTS)
        res = run.run(sampler)
        errors = list(run.errors)
        attempted = run.attempted
        if args.trace:
            out, errs = _layer_metrics(run, res, spark, args)
            errors += errs
            attempted += len(analytics.QUERIES)
            out["session.start_s"] = session_s
    finally:
        _stop(spark)
        sampler.stop()
    stats = res["stats"]
    e2e = {
        "setup_s": session_s + res["setup_s"],
        "urls_per_s": stats["urls_per_s"],
        "round_s_p50": stats["round_s_p50"],
        "resume_s": res["resume_s"],
        "state_bytes_per_url": res["state_bytes_per_url"],
        "cpu_s_per_kurl": res["cpu_s_per_kurl"],
        # the session and the timed crawl only, not the oracle check
        "peak_rss_mb": sampler.peak_memory_between(t0, res["timed_end"]) / 2**20,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "session_s": session_s,
        "setup_s": res["setup_s"],
        "steady_rounds": [
            {k: m[k] for k in ("round", "fetched", "blocked", "next_frontier", "elapsed_sec",
                               "phase_sec", "band_prune", "prune_fallback") if k in m}
            for m in res["steady"]
        ],
        "spans": [(n, round(b - a, 4)) for n, a, b in run.spans],
        "errors": errors,
    }
    if not args.trace:
        return {k: (e2e[k], u) for k, (u, _) in spec.END_TO_END.items()}, attempted, errors, detail
    out.update(_spark_metrics(
        tmp, [(epoch + a, epoch + b) for a, b in res["windows"]], stats["fetched"], cores
    ))
    out["trace.overhead_frac"] = _untraced_urls_per_s(args) / stats["urls_per_s"] - 1
    return {k: (out[k], u) for k, (u, _) in spec.PER_LAYER.items()}, attempted, errors, detail


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "llm_scraper_spark", "__init__.py")):
        print("run.py: run it from the root of a checkout of llm_scraper_spark", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench import crawl

    if args.workload not in crawl.WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; one of {sorted(crawl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep the JVM's and Python's temporary files inside the checkout too
    os.makedirs(os.path.join(tmp, "jvm"))
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata, temp
    # files in the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/jvm"
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    # a kill by timeout still stops Spark and removes the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the JVM prints to fd 1; keep stdout for the result lines only
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result, attempted, errors, detail = measure(args, tmp)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        shutil.rmtree(tmp, ignore_errors=True)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    line = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(line), flush=True)
    if not args.trace and not errors:
        os.makedirs(RESULTS, exist_ok=True)
        with open(_saved_result_path(args), "w") as f:
            json.dump(line, f)
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
