"""Measurement helpers that need no Spark: percentiles, the process-tree
peak-RSS sampler, and aggregation of a Spark event log by job group.

Kept apart from run.py so the tests in test_measure.py can import them
without starting a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
from collections import defaultdict

# Percentiles tried from the highest down; the first one with at least
# MIN_BEYOND samples above it is the tail figure reported for a timing.
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def tail_percentile(values, ladder=PERCENTILE_LADDER, min_beyond=MIN_BEYOND):
    """(p, value) for the highest p in `ladder` that leaves at least
    `min_beyond` samples strictly after its nearest rank, or None when even
    the lowest rung has fewer."""
    n = len(values)
    for p in ladder:
        if n - _rank(p, n) >= min_beyond:
            return p, percentile(values, p)
    return None


def timing_summary(values) -> dict:
    """Median, sample count and the tail percentile of one timing series."""
    out = {"n": len(values), "p50": statistics.median(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_p"], out["tail"] = tail
    return out


# ---------------------------------------------------------------- peak RSS


# A process younger than this is not counted: a child made by fork, vfork
# or posix_spawn shares its parent's pages until it execs, and /proc reports
# them again under the child (a spawn from the 3 GB JVM doubled the sum).
MIN_AGE_S = 1.0


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """{pid: (ppid, age in seconds, rss pages)} from /proc/<pid>/stat."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime", "rb") as f:
        uptime = float(f.read().split()[0])
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # process ended between listdir and open
            continue
        # fields after the parenthesised command, which may hold spaces:
        # rest[k] is field k + 3 of proc(5) (ppid 4, starttime 22, rss 24)
        rest = stat[stat.rindex(b")") + 2:].split()
        table[int(name)] = (int(rest[1]), uptime - int(rest[19]) / tick, int(rest[21]))
    return table


def _children_map(table=None) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _age, _rss) in (table or _proc_table()).items():
        kids[ppid].append(pid)
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of `root` and every descendant at least
    MIN_AGE_S old."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = _proc_table()
    kids = _children_map(table)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if pid in table and (pid == root or table[pid][1] >= MIN_AGE_S):
            total += table[pid][2] * page
    return total


class PeakRssSampler:
    """Polls the process tree under `root` from a daemon thread and keeps
    the largest summed RSS seen. Use as a context manager; `peak_mb` is
    final once the block exits."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# ------------------------------------------------------- event-log rollup

GROUP_KEY = "spark.jobGroup.id"

_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "retried_stages",
    "cpu_s", "gc_s", "sched_wait_s", "input_rows", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "bytes_written",
)


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    wall_ms = info["Finish Time"] - info["Launch Time"]
    busy_ms = (
        m.get("Executor Run Time", 0)
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    return {
        "tasks": 1,
        "failed_tasks": int(ev["Task End Reason"]["Reason"] != "Success"),
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        # the Spark UI's "scheduler delay": task wall time not spent
        # deserializing, running or shipping the result
        "sched_wait_s": max(0, wall_ms - busy_ms) / 1e3,
        "input_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }


def aggregate_event_log(lines) -> dict[str, dict]:
    """{job group: counters} from the JSON lines of an uncompressed Spark
    event log. Jobs and stages are attributed through the job-group property
    Spark records on each; tasks through their stage. Work outside any group
    lands under the empty-string key."""
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: dict.fromkeys(_COUNTERS, 0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY, "")
            agg[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(
                GROUP_KEY, stage_group.get(info["Stage ID"], "")
            )
            stage_group[info["Stage ID"]] = group
            agg[group]["stages"] += 1
            if info.get("Stage Attempt ID", 0) > 0:
                agg[group]["retried_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            for k, v in _task_counters(ev).items():
                agg[group][k] += v
    return {g: dict(c) for g, c in agg.items()}


def read_event_logs(log_dir: str) -> list[str]:
    """All lines of every event-log file under log_dir. Spark writes one
    file per application when spark.eventLog.rolling.enabled is false."""
    lines: list[str] = []
    for root, _dirs, files in sorted(os.walk(log_dir)):
        for f in sorted(files):
            if f.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                lines.extend(fh)
    return lines
