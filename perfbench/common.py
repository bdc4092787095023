"""Measurement helpers shared by the workloads: statistics, process-tree
RSS, the host stamp, benchmark-side spans and the Spark event-log
reader.  Standard library only."""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import platform
import subprocess
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default), ``0 <= q <= 1``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def metric(value: float, unit: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "samples": samples}


def op_metrics(times_s: list[float]) -> dict:
    """``op_median_ms`` and ``op_p99_ms`` of one list of op times in seconds."""
    return {
        "op_median_ms": metric(median(times_s) * 1e3, "ms", len(times_s)),
        "op_p99_ms": metric(quantile(times_s, 0.99) * 1e3, "ms", len(times_s)),
    }


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssPeak:
    """Samples a process tree's summed RSS every ``interval`` seconds on a
    background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# host stamp (reported, never used to scale a metric)
# ---------------------------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def calibration_s() -> float:
    """Wall time of a fixed pure-Python loop: a probe of host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _version(cmd: list[str]) -> str | None:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = [ln for ln in (out.stdout + out.stderr).splitlines()
             if ln.strip() and not ln.startswith("Picked up")]
    return lines[0].strip() if lines else None


class HostStamp:
    def __init__(self, root: str, cores: int):
        import pyspark

        self.stamp = {
            "cores": cores,
            "nproc": os.cpu_count(),
            "git_sha": (_version(["git", "-C", root, "rev-parse", "HEAD"])
                        if os.path.isdir(os.path.join(root, ".git")) else None),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": _version(["java", "-version"]),
            "loadavg_before": os.getloadavg(),
            "calibration_s_before": calibration_s(),
        }
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        self.stamp["steal_share"] = delta[7] / max(1, sum(delta)) if len(delta) > 7 else None
        self.stamp["loadavg_after"] = os.getloadavg()
        self.stamp["calibration_s_after"] = calibration_s()
        return self.stamp


# ---------------------------------------------------------------------------
# benchmark-side spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


@dataclass
class Tracer:
    """Spans kept in memory; a span opened inside another is its child."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[tuple[Span, float]]:
        """(span, duration minus the time its children cover).  Children
        run sequentially inside their parent, so their durations add."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [(s, (s.end - s.start) - c) for s, c in zip(self.spans, child)]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class StageStats:
    task_ms: list[float] = field(default_factory=list)
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> dict[str, list[StageStats]]:
    """Stages of every job, grouped by the job's description
    (``setJobDescription``).  Each stage is counted under the first job
    that lists it; skipped stages have no tasks and drop out."""
    stage_desc: dict[int, str] = {}
    stages: dict[int, StageStats] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st.task_ms.append(float(info["Finish Time"] - info["Launch Time"]))
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    jobs: dict[str, list[StageStats]] = {}
    for sid, st in stages.items():
        jobs.setdefault(stage_desc.get(sid, ""), []).append(st)
    return jobs


def task_skew(stages: list[StageStats]) -> float:
    """max ÷ median task time of the stage with the most tasks."""
    if not stages:
        return 1.0
    st = max(stages, key=lambda s: (len(s.task_ms), sum(s.task_ms)))
    med = median(st.task_ms)
    return max(st.task_ms) / med if med > 0 else 1.0


@dataclass
class WorkloadResult:
    """What a workload run hands back: end-to-end metrics (empty when no
    op succeeded), op counts, and whatever its per-layer ledger needs."""

    attempted: int
    failed: int
    metrics: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    times: dict = field(default_factory=dict)
