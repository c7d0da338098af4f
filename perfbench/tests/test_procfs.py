"""Tree CPU, resident memory and process age, read from a synthetic /proc."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procfs  # noqa: E402

TCK = procfs.CLK_TCK


def _proc(root, pid, ppid, comm, utime, stime, cutime=0, cstime=0, rss_kb=None, start=0):
    d = root / str(pid)
    d.mkdir()
    # fields 3.. of proc(5): state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime prio nice threads
    # itrealvalue starttime ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 1, 0, start, 0, 0]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, rest)) + "\n")
    if rss_kb is not None:
        (d / "status").write_text(
            f"Name:\t{comm}\nVmPeak:\t999999 kB\nVmHWM:\t{rss_kb} kB\nVmRSS:\t{rss_kb // 2} kB\n")


@pytest.fixture
def tree(tmp_path):
    # 10 -> 11 (jvm) -> 12 (worker daemon) -> 13 (worker); 20 is unrelated
    _proc(tmp_path, 1, 0, "init", 5, 5)
    _proc(tmp_path, 10, 1, "python3", 100, 20, cutime=50, cstime=10, rss_kb=100 * 1024, start=1000)
    _proc(tmp_path, 11, 10, "java) (odd name", 400, 30, rss_kb=1024 * 1024)
    _proc(tmp_path, 12, 11, "python3 -m pyspark.daemon", 10, 2, cutime=7, cstime=1, rss_kb=30 * 1024)
    _proc(tmp_path, 13, 12, "python3", 40, 4, rss_kb=60 * 1024)
    _proc(tmp_path, 20, 1, "other", 999, 999, rss_kb=999 * 1024)
    (tmp_path / "uptime").write_text(f"{2000 / TCK + 12.5:.2f} 0.00\n")
    return tmp_path


def test_tree_pids_follows_descendants_only(tree):
    assert sorted(procfs.tree_pids(10, str(tree))) == [10, 11, 12, 13]
    assert procfs.tree_pids(13, str(tree)) == [13]


def test_tree_cpu_sums_live_and_reaped_time(tree):
    ticks = (100 + 20 + 50 + 10) + (400 + 30) + (10 + 2 + 7 + 1) + (40 + 4)
    assert procfs.tree_cpu_s(10, str(tree)) == pytest.approx(ticks / TCK)


def test_peak_rss_sums_each_process_high_water_mark(tree):
    assert procfs.tree_peak_rss_mb(10, str(tree)) == pytest.approx(100 + 1024 + 30 + 60)


def test_vanished_process_is_skipped(tree):
    (tree / "13" / "stat").unlink()
    (tree / "13" / "status").unlink()
    assert sorted(procfs.tree_pids(10, str(tree))) == [10, 11, 12]
    assert procfs.tree_peak_rss_mb(10, str(tree)) == pytest.approx(100 + 1024 + 30)


def test_seconds_since_start(tree):
    assert procfs.seconds_since_start(10, str(tree)) == pytest.approx(2000 / TCK + 12.5 - 1000 / TCK, abs=0.01)


def test_live_readers_on_this_process():
    me = os.getpid()
    assert me in procfs.tree_pids(me)
    assert procfs.tree_cpu_s(me) > 0
    assert procfs.tree_peak_rss_mb(me) > 1
    assert 0 < procfs.seconds_since_start() < 3600 * 24
