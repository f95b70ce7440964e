"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import measure  # noqa: E402

FIXTURE = Path(__file__).resolve().parent / "fixtures" / "eventlog_small.jsonl"


def test_percentile_nearest_rank():
    xs = list(range(10, 0, -1))  # unsorted input
    assert measure.percentile(xs, 50) == 5
    assert measure.percentile(xs, 90) == 9
    assert measure.percentile(xs, 100) == 10
    assert measure.percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        measure.percentile([], 50)


@pytest.mark.parametrize("n, want_p", [
    (19, None),     # even the median leaves only 9 samples beyond it
    (20, 50.0),
    (39, 50.0),     # p75 would leave 9
    (40, 75.0),
    (100, 90.0),    # p95 would leave 5
    (199, 90.0),
    (200, 95.0),
    (1000, 99.0),   # p99.9 would leave 1
    (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want_p):
    xs = [float(i) for i in range(1, n + 1)]
    got = measure.tail_percentile(xs)
    if want_p is None:
        assert got is None
        return
    p, value = got
    assert p == want_p
    assert value == measure.percentile(xs, p)
    assert sum(1 for x in xs if x > value) >= measure.MIN_BEYOND


def test_timing_summary():
    s = measure.timing_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}
    s = measure.timing_summary([float(i) for i in range(1, 41)])
    assert (s["n"], s["p50"], s["tail_p"], s["tail"]) == (40, 20.5, 75.0, 30.0)


def test_event_log_rollup_by_job_group():
    groups = measure.aggregate_event_log(FIXTURE.read_text().splitlines())
    assert set(groups) == {"query.bm25_search", "index.build", ""}

    q = groups["query.bm25_search"]
    assert (q["jobs"], q["stages"], q["retried_stages"]) == (1, 3, 1)
    assert (q["tasks"], q["failed_tasks"]) == (3, 1)
    assert q["cpu_s"] == pytest.approx(0.5)
    assert q["gc_s"] == pytest.approx(0.015)
    assert q["input_rows"] == 120
    assert q["shuffle_write_bytes"] == 2048
    assert q["shuffle_read_bytes"] == 1024 + 2048
    assert q["spill_bytes"] == 4096
    # wall minus run, deserialize, result serialization and fetch:
    # (500-450) + (100-100) + (300-260) ms
    assert q["sched_wait_s"] == pytest.approx(0.09)

    # a stage submitted without properties inherits its job's group
    b = groups["index.build"]
    assert (b["jobs"], b["stages"], b["tasks"], b["bytes_written"]) == (1, 1, 1, 777)
    assert b["sched_wait_s"] == pytest.approx(0.03)

    # work outside any group is kept apart
    assert (groups[""]["jobs"], groups[""]["tasks"], groups[""]["input_rows"]) == (1, 1, 5)


def test_read_event_logs_skips_status_files(tmp_path):
    (tmp_path / "local-1").write_text(FIXTURE.read_text())
    (tmp_path / ".local-1.crc").write_text("x")
    (tmp_path / "appstatus_local-1").write_text("")
    lines = measure.read_event_logs(str(tmp_path))
    assert len(lines) == len(FIXTURE.read_text().splitlines())


def test_tree_rss_counts_children():
    alone = measure.tree_rss_bytes(os.getpid())
    assert alone > 0
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(measure.MIN_AGE_S + 0.2)
        deadline = time.monotonic() + 10
        with measure.PeakRssSampler(interval_s=0.05) as rss:
            while measure.tree_rss_bytes(os.getpid()) <= alone and time.monotonic() < deadline:
                time.sleep(0.05)
        assert rss.peak_bytes > alone
        assert rss.peak_mb == rss.peak_bytes / 2**20
    finally:
        child.kill()
        child.wait(timeout=10)


def test_tree_rss_skips_just_spawned_children(monkeypatch):
    page = os.sysconf("SC_PAGE_SIZE")
    table = {
        10: (1, 0.5, 100),   # root: counted whatever its age
        11: (10, 0.01, 100),  # spawned a moment ago, still on the parent's pages
        12: (10, 5.0, 30),   # an established child
        13: (12, 4.0, 7),    # grandchild
        14: (11, 0.0, 9),    # under a skipped child: still walked, too young
        15: (11, 2.0, 3),    # under a skipped child, established: counted
        20: (1, 9.0, 100),   # not under root
    }
    monkeypatch.setattr(measure, "_proc_table", lambda: table)
    assert measure.tree_rss_bytes(10) == (100 + 30 + 7 + 3) * page
