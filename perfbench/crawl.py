"""The crawl workloads, timed from outside through ``Crawler.init_state``
and ``Crawler.run``.

One run, in order:

1. set-up: a fresh workdir, ``init_state`` and round 0.  This is the
   first Spark work of the process, so it includes code generation, JIT
   and Python worker start-up, as a user's first round does.  The
   committed workdir is the base of every repetition;
2. repetitions: a copy of the base gets a fresh ``Crawler`` that
   resumes it and runs the next round.  Every repetition does the same
   work; the medians over the repetitions are reported;
3. checks: the last repetition's workdir against the sequential oracle,
   and every other repetition's timed round against the last one's, run
   afterwards so they compete with nothing timed.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import tempfile
import time
from dataclasses import dataclass

from . import crawlcheck, inputs, metrics

#: round 0 is set-up; this round is the one repeated and timed
TIMED_ROUND = 1
#: nominal repetition time on a 4-core host: --seconds // REP_S
#: repetitions run, and at least MIN_REPS
REP_S = 7
MIN_REPS = 3


@dataclass(frozen=True)
class CrawlConfig:
    seeds: int              # seed-list length (before the crawler's dedup)
    budget_ms: int          # per-round politeness budget
    band_prune: bool        # band-pruned frontier log (else plain frontier)
    band_margin: int        # the pruned frontier's read margin
    compact_every: int      # seen-set compaction period in rounds


WORKLOADS = {
    # politeness almost never binds and the frontier grows ~4x per round,
    # so fetch, outlink canonicalization and snapshot writes dominate;
    # the timed round 1 compacts nothing
    "crawl_wide": CrawlConfig(
        seeds=6000, budget_ms=60_000, band_prune=False, band_margin=4, compact_every=3,
    ),
    # one fetch per host per round while the frontier is about 10x the
    # fetch: the Bloom probe, seen anti-join, politeness windows, the
    # next-frontier write and the seen compaction of the timed round 1
    # dominate.  A margin of 16 is where the crawler's own adaptation
    # lands after round 1 falls back at the default 4; starting there
    # spares every run that redone round.
    "crawl_deep": CrawlConfig(
        seeds=12_000, budget_ms=100, band_prune=True, band_margin=16, compact_every=2,
    ),
}


def _oracle(seed_list, robots, budget_ms, rounds):
    from llm_scraper_spark.plans.oracle import crawl_oracle

    return crawlcheck.Expected(
        crawl_oracle(seed_list, robots, budget_ms=budget_ms, max_rounds=rounds)
    )


def cached_oracle(cache_dir: str, seed_list, robots, budget_ms, rounds):
    """The oracle's output for these inputs, cached under ``cache_dir``.

    The key covers the inputs and the source of every module the oracle
    runs, so an edited oracle, web or URL function is never served a
    stale answer.  The pickles are written only by this function.
    """
    from llm_scraper_spark.functions import urls
    from llm_scraper_spark.plans import oracle
    from llm_scraper_spark.sources import synthweb

    key = hashlib.sha1(repr((seed_list, robots, budget_ms, rounds)).encode())
    for mod in (oracle, synthweb, urls):
        with open(mod.__file__, "rb") as f:
            key.update(f.read())
    path = os.path.join(cache_dir, f"oracle-{key.hexdigest()}.pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    expected = _oracle(seed_list, robots, budget_ms, rounds)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(expected, f)
    os.replace(path + ".tmp", path)
    return expected


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


@dataclass
class Rep:
    """One repetition of the timed round."""

    workdir: str
    manifest: dict          # the round's committed manifest
    start: float            # monotonic: fresh Crawler created
    end: float              # monotonic: the round committed
    cpu_s: float            # CPU seconds of the process tree in [start, end]


class CrawlRun:
    def __init__(
        self, spark, cfg: CrawlConfig, seed: int, seconds: int, tmp: str, cores: int,
        cache_dir: str,
    ):
        from llm_scraper_spark.sources.synthweb import bench_robots_rows

        self.spark = spark
        self.cfg = cfg
        self.seed = seed
        # --seconds sizes the timed phase as a fixed repetition count, so
        # a faster program does the same work, and a faster host does not
        # take more samples further down the JIT's warm-up curve
        self.reps = max(MIN_REPS, seconds // REP_S)
        self.tmp = tmp
        self.cache_dir = cache_dir
        self.cores = cores
        self.seed_list = inputs.crawl_seed_urls(seed, cfg.seeds)
        self.robots = bench_robots_rows()
        self.attempted = 0
        self.errors: list[str] = []
        self.spans: list[tuple[str, float, float]] = []  # (name, start, end)

    # -- helpers ---------------------------------------------------------
    def crawler(self, workdir: str):
        from llm_scraper_spark.plans.crawler import Crawler

        return Crawler(
            self.spark,
            workdir,
            budget_ms=self.cfg.budget_ms,
            salt_buckets=4 * self.cores,
            use_bloom=True,
            fetch_partitions=2 * self.cores,
            band_prune=self.cfg.band_prune,
            band_margin=self.cfg.band_margin,
            compact_every=self.cfg.compact_every,
        )

    def timed(self, name: str, fn, *args):
        t0 = time.monotonic()
        out = fn(*args)
        self.spans.append((name, t0, time.monotonic()))
        return out

    # -- phases ----------------------------------------------------------
    def run(self, sampler) -> dict:
        cfg = self.cfg
        base = tempfile.mkdtemp(prefix="base-", dir=self.tmp)
        t0 = time.monotonic()
        c = self.crawler(base)
        self.timed("crawler.init_state", c.init_state, self.seed_list, self.robots)
        self.timed("crawler.run.warmup", c.run, TIMED_ROUND)
        setup_s = time.monotonic() - t0
        self.attempted += 1
        base_bytes = du(base)

        reps: list[Rep] = []
        for _ in range(self.reps):
            wd = tempfile.mkdtemp(prefix=f"rep{len(reps)}-", dir=self.tmp)
            shutil.copytree(base, wd, dirs_exist_ok=True)
            ms = self.timed("crawler.resume", self.crawler(wd).run, TIMED_ROUND + 1)
            a, b = self.spans[-1][1:]
            self.attempted += 1
            if [m["round"] for m in ms] != [TIMED_ROUND]:
                raise RuntimeError(f"a resume ran rounds {[m['round'] for m in ms]}")
            reps.append(Rep(wd, ms[0], a, b, 0.0))
        timed_end = reps[-1].end
        # let the sampler take one point past the last round
        time.sleep(sampler.interval * 1.5)
        for rep in reps:
            rep.cpu_s = sampler.cpu_between(rep.start, rep.end)

        manifests = [r.manifest for r in reps]
        first = manifests[0]
        stats = metrics.steady_stats(manifests, TIMED_ROUND)
        result = {
            "setup_s": setup_s,
            "reps": reps,
            "steady": manifests,
            "warmup_last": _manifest(base, TIMED_ROUND - 1),
            "windows": [(r.start, r.end) for r in reps],
            "stats": stats,
            "resume_s": metrics.median(r.end - r.start for r in reps),
            "timed_end": timed_end,
            "bytes_per_round": du(reps[-1].workdir) - base_bytes,
            "state_bytes_per_url": du(reps[-1].workdir) / first["seen_total"],
            "cpu_s_per_kurl": metrics.median(r.cpu_s / (first["fetched"] / 1000) for r in reps),
            "workdir": reps[-1].workdir,
        }
        expected = self.timed(
            "oracle", cached_oracle, self.cache_dir, self.seed_list, self.robots,
            cfg.budget_ms, TIMED_ROUND + 1,
        )
        # band pruning absorbs blocked rows of unread deep bands in later
        # rounds by design, so a pruned crawl's seen set is compared on
        # fetched URLs only
        seen_mode = "fetched" if cfg.band_prune else "all"
        t = time.monotonic()
        last = reps[-1].workdir
        bad = crawlcheck.compare(last, expected, TIMED_ROUND, seen_mode=seen_mode)
        if bad:
            self.errors.append("oracle check: " + "; ".join(bad))
        # the other repetitions must have written what the checked one did
        for k, rep in enumerate(reps[:-1]):
            bad = crawlcheck.same_round(rep.workdir, last, TIMED_ROUND)
            if bad:
                self.errors.append(f"rep {k} against rep {len(reps) - 1}: " + "; ".join(bad))
        self.attempted += len(reps)
        self.spans.append(("check", t, time.monotonic()))
        return result


def _manifest(workdir: str, r: int) -> dict:
    import json

    with open(os.path.join(workdir, "manifests", f"r{r}.json")) as f:
        return json.load(f)
