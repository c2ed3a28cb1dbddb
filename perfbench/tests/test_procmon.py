"""Process-tree sampling."""

import os

import pytest

from perfbench import procmon


def test_cpu_between_interpolates_between_samples():
    pts = [(0.0, 10.0, 0), (1.0, 12.0, 0), (3.0, 13.0, 0)]
    assert procmon.cpu_between(pts, 0.5, 2.0) == pytest.approx(12.5 - 11.0)
    # outside the series the end samples hold
    assert procmon.cpu_between(pts, -1.0, 5.0) == pytest.approx(3.0)


def test_peak_memory_counts_only_samples_inside_the_window():
    # the last sample is the oracle check after the timed part
    pts = [(0.0, 0.0, 100), (1.0, 0.0, 300), (2.0, 0.0, 200), (3.0, 0.0, 900)]
    assert procmon.peak_memory_between(pts, 0.5, 2.5) == 300
    assert procmon.peak_memory_between(pts, 0.0, 3.0) == 900


def test_tree_usage_reads_this_process():
    cpu, mem = procmon.tree_usage(os.getpid())
    assert cpu > 0 and mem > 0
    assert os.getpid() in procmon.tree_pids(os.getpid())
