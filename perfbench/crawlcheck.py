"""Crawl outputs against the sequential reference oracle.

The engine's committed snapshots are read with pyarrow straight from
the workdir (no Spark job), reduced to comparable sets, and compared
with ``plans.oracle.crawl_oracle`` run on the same seed list, robots,
budget and round count.  Repetitions of one round are compared with
each other snapshot by snapshot.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow.parquet as pq


class Expected:
    """Oracle output reduced to what the benchmark compares."""

    def __init__(self, ora) -> None:
        # fetch schedule: (round, slot, host, url, depth)
        self.schedule = {(r, s, h, u, d) for (r, s, h, u, _uh, _p, d) in ora.fetch_log}
        self.seen = dict(ora.seen)  # url -> first round
        self.spans = {u: span_digest(spans) for u, spans in ora.documents.items()}


def span_digest(spans) -> bytes:
    """Digest of a document's span sequence (kind, text, media_ref, offset)."""
    seq = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
    return hashlib.sha1(repr(seq).encode()).digest()


def _read_rounds(workdir: str, sub: str, columns: list[str]) -> list[dict]:
    rows: list[dict] = []
    for d in sorted(glob.glob(os.path.join(workdir, sub, "r*.parquet"))):
        rows.extend(pq.read_table(d, columns=columns).to_pylist())
    return rows


def compare(workdir: str, want: Expected, upto_round: int, *, seen_mode: str) -> list[str]:
    """Mismatches between a workdir and the oracle, up to a round.

    ``seen_mode`` is ``"all"`` to compare the whole seen set (fetched
    plus robots-blocked, with first rounds) or ``"fetched"`` to compare
    only fetched URLs: band pruning absorbs blocked rows of unread deep
    bands in later rounds by design.
    """
    errors: list[str] = []
    fetched = _read_rounds(
        workdir, "fetch", ["round", "slot", "host", "doc_id", "depth", "spans", "ok"]
    )
    got_sched = {
        (x["round"], x["slot"], x["host"], x["doc_id"], x["depth"]) for x in fetched
    }
    want_sched = {t for t in want.schedule if t[0] <= upto_round}
    if len(got_sched) != len(fetched):
        errors.append(f"schedule: {len(fetched) - len(got_sched)} duplicate fetch rows")
    if got_sched != want_sched:
        errors.append(
            f"schedule: {len(got_sched - want_sched)} unexpected, "
            f"{len(want_sched - got_sched)} missing of {len(want_sched)}"
        )
    bad_spans = sum(
        not x["ok"] or span_digest(x["spans"]) != want.spans.get(x["doc_id"])
        for x in fetched
    )
    if bad_spans:
        errors.append(f"spans: {bad_spans} of {len(fetched)} documents differ")
    if seen_mode == "fetched":
        got_seen = {x["doc_id"] for x in fetched}
        want_seen = {t[3] for t in want_sched}
    else:
        blocked = _read_rounds(workdir, "blocked", ["url", "first_round"])
        got_seen = {(x["doc_id"], x["round"]) for x in fetched} | {
            (x["url"], x["first_round"]) for x in blocked
        }
        want_seen = {(u, r) for u, r in want.seen.items() if r <= upto_round}
    if got_seen != want_seen:
        errors.append(
            f"seen: {len(got_seen - want_seen)} unexpected, "
            f"{len(want_seen - got_seen)} missing of {len(want_seen)}"
        )
    return errors


def _round_table(workdir: str, sub: str, r: int, keys: list[str]):
    path = os.path.join(workdir, sub, f"r{r}.parquet")
    if not os.path.exists(path):
        return None
    return pq.read_table(path).sort_by([(k, "ascending") for k in keys])


def same_round(workdir_a: str, workdir_b: str, r: int) -> list[str]:
    """Snapshots of round ``r`` that differ between two workdirs, each
    compared row for row in a fixed order (the part files' order is
    Spark's)."""
    errors = []
    for sub, keys in (("fetch", ["doc_id", "slot"]), ("blocked", ["url"])):
        a, b = (_round_table(wd, sub, r, keys) for wd in (workdir_a, workdir_b))
        if (a is None) != (b is None) or (a is not None and not a.equals(b)):
            errors.append(f"{sub}: round {r} differs")
    return errors
