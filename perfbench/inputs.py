"""Seeded benchmark inputs.

The crawl seed list over the 4096-host bench web is made here from the
benchmark's ``--seed``.  The program receives only the list, never the
seed.
"""

from __future__ import annotations

import hashlib

# The bench web of llm_scraper_spark.sources.synthweb: host h0 is the
# hot host, hosts h1..h4095 share the rest; every host serves items
# 0..BENCH_UNIVERSE-1.  Restated here (not imported) so the generator
# and its tests run without Spark on the path.
BENCH_DOMAIN = ".bench.example.com"
BENCH_HOSTS = 4096
BENCH_UNIVERSE = 100_000
HOT_SHARE = 0.25


def _digest(seed: int, i: int) -> bytes:
    return hashlib.sha1(f"perfbench-seed|{seed}|{i}".encode()).digest()


def crawl_seed_urls(seed: int, n: int) -> list[str]:
    """``n`` seed URLs over the bench web, a pure function of ``seed``.

    About a quarter of the URLs go to the hot host ``h0`` (the skew the
    salted fetch repartition exists for); the rest spread uniformly over
    the other hosts.  Duplicates are kept: the crawler dedups seeds.
    """
    out = []
    for i in range(n):
        d = _digest(seed, i)
        if d[0] < int(256 * HOT_SHARE):
            host = 0
        else:
            host = 1 + int.from_bytes(d[1:3], "big") % (BENCH_HOSTS - 1)
        item = int.from_bytes(d[3:7], "big") % BENCH_UNIVERSE
        out.append(f"https://h{host}{BENCH_DOMAIN}/item/{item}")
    return out
