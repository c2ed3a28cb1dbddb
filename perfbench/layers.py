"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions from outside,
on data the crawl just produced: the Bloom filter on the run's own seen
and frontier hashes, JVM URL canonicalization on the run's outlinks, and
the fetch kernel on a sample of fetched URLs.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq


def _column(paths: list[str], col: str) -> np.ndarray:
    parts = [pq.read_table(p, columns=[col]).column(col).to_numpy() for p in paths]
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


def _best_of(n: int, fn) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def bloom_probe(workdir: str, band_prune: bool) -> dict:
    """``BloomFilter.add`` over the seen hashes and ``maybe_contains``
    over the live frontier, at the crawler's own sizing (capacity four
    times the seen count)."""
    from llm_scraper_spark.functions.bloom import BloomFilter

    seen = np.concatenate([
        _column(glob.glob(os.path.join(workdir, "fetch", "r*.parquet")), "url_hash"),
        _column(glob.glob(os.path.join(workdir, "blocked", "r*.parquet")), "url_hash"),
    ])
    if band_prune:
        # unit dirs are named _band=<b>, which dataset discovery skips,
        # so list the data files themselves
        fpaths = glob.glob(
            os.path.join(workdir, "frontier_log", "g*.parquet", "_band=*", "*.parquet")
        )
    else:
        fpaths = sorted(
            glob.glob(os.path.join(workdir, "frontier", "r*.parquet")),
            key=lambda p: int(os.path.basename(p)[1:].split(".")[0]),
        )[-1:]
    front = _column(fpaths, "url_hash")
    cap = max(4096, 4 * len(seen))

    def add():
        BloomFilter.empty(cap).add(seen)

    bloom = BloomFilter.empty(cap)
    bloom.add(seen)
    add_s = _best_of(3, add)
    probe_s = _best_of(3, lambda: bloom.maybe_contains(front))
    flagged = bloom.maybe_contains(front)
    exact = np.isin(front, seen)
    return {
        "bloom.add_s_per_mrow": add_s / (len(seen) / 1e6),
        "bloom.probe_s_per_mrow": probe_s / (max(1, len(front)) / 1e6),
        "bloom.maybe_seen_frac": float(flagged.mean()) if len(front) else 0.0,
        "bloom.false_pos_frac": float((flagged & ~exact).sum()) / max(1, len(front)),
    }


def canon_probe(spark, workdir: str) -> dict:
    """``canonicalize_col``, ``url_hash_col`` and ``host_col`` over the
    run's exploded outlinks, cached in memory first so only the URL
    functions are timed."""
    from pyspark.sql import functions as F

    from llm_scraper_spark.functions.urls import canonicalize_col, host_col, url_hash_col

    links = (
        spark.read.parquet(*glob.glob(os.path.join(workdir, "fetch", "r*.parquet")))
        .select(F.col("doc_id").alias("base"), F.explode("outlinks").alias("raw"))
        .cache()
    )
    n = links.count()
    u = canonicalize_col(F.col("raw"), F.col("base"))
    job = links.select(u.alias("u")).select(
        F.sum(url_hash_col(F.col("u")) % 1000).alias("h"),
        F.sum(F.length(host_col(F.col("u")))).alias("l"),
    )
    job.collect()  # compile once
    t = _best_of(3, job.collect)
    links.unpersist()
    return {"urls.canon_s_per_mlink": t / (n / 1e6)}


def fetch_probe(workdir: str, n: int = 2000) -> dict:
    """``fetch_batch`` on the first ``n`` fetched URLs in URL order, on
    one core in this process."""
    import pandas as pd

    from llm_scraper_spark.sources.synthweb import fetch_batch

    urls = sorted(
        _column(glob.glob(os.path.join(workdir, "fetch", "r*.parquet")), "doc_id").tolist()
    )[:n]
    batch = pd.Series(urls)
    fetch_batch(batch)
    t = _best_of(3, lambda: fetch_batch(batch))
    return {"fetch.kernel_s_per_kurl": t / (len(urls) / 1000)}
