"""The oracle comparison on a workdir written by hand."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import crawlcheck


class _Ora:
    def __init__(self, log, seen, docs):
        self.fetch_log, self.seen, self.documents = log, seen, docs


SPANS = [{"kind": "text", "text": "a b", "media_ref": None, "offset": 0}]


def _write(wd, sub, r, rows):
    d = os.path.join(wd, sub, f"r{r}.parquet")
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "part-0.parquet"))


def _fetch_row(r, slot, url, spans=SPANS, ok=True):
    return {"round": r, "slot": slot, "host": "h", "doc_id": url, "depth": r,
            "spans": spans, "ok": ok}


def _oracle():
    log = [(0, 1, "h", "https://h/a", 1, 0.0, 0), (1, 1, "h", "https://h/b", 2, 1.0, 1)]
    seen = {"https://h/a": 0, "https://h/b": 1, "https://h/private": 1}
    docs = {"https://h/a": SPANS, "https://h/b": SPANS}
    return crawlcheck.Expected(_Ora(log, seen, docs))


def test_matching_workdir_passes(tmp_path):
    wd = str(tmp_path)
    _write(wd, "fetch", 0, [_fetch_row(0, 1, "https://h/a")])
    _write(wd, "fetch", 1, [_fetch_row(1, 1, "https://h/b")])
    _write(wd, "blocked", 1, [{"url": "https://h/private", "first_round": 1}])
    assert crawlcheck.compare(wd, _oracle(), 1, seen_mode="all") == []
    assert crawlcheck.compare(wd, _oracle(), 1, seen_mode="fetched") == []
def test_every_kind_of_mismatch_is_reported(tmp_path):
    wd = str(tmp_path)
    other = [{"kind": "text", "text": "a c", "media_ref": None, "offset": 0}]
    _write(wd, "fetch", 0, [_fetch_row(0, 2, "https://h/a", spans=other)])
    errors = crawlcheck.compare(wd, _oracle(), 0, seen_mode="all")
    assert any(e.startswith("schedule") for e in errors)
    assert any(e.startswith("spans") for e in errors)
    # round 0 alone: the seen set still matches
    assert not any(e.startswith("seen") for e in errors)
    missing = crawlcheck.compare(wd, _oracle(), 1, seen_mode="all")
    assert any(e.startswith("seen") for e in missing)


def test_same_round_ignores_row_order_and_finds_changes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = [_fetch_row(1, 1, "https://h/b"), _fetch_row(1, 2, "https://h/c")]
    _write(a, "fetch", 1, rows)
    _write(b, "fetch", 1, rows[::-1])
    assert crawlcheck.same_round(a, b, 1) == []
    _write(c, "fetch", 1, [rows[0], _fetch_row(1, 3, "https://h/c")])
    _write(c, "blocked", 1, [{"url": "https://h/private", "first_round": 1}])
    assert crawlcheck.same_round(a, c, 1) == ["fetch: round 1 differs", "blocked: round 1 differs"]
