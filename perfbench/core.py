"""Pure helpers of the benchmark: sample statistics, metric-name rules,
process-tree accounting from /proc, spans, and Spark event-log attribution.

Nothing here imports pyspark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


# ------------------------------------------------------------ statistics
def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the nearest-rank ``pct``-th percentile of n."""
    return n - math.ceil(pct / 100.0 * n)


def reportable(n: int, pct: float, min_tail: int = MIN_TAIL) -> bool:
    """A percentile is reported only with ``min_tail`` samples beyond it
    (p90 needs at least 100 samples)."""
    return n > 0 and samples_beyond(n, pct) >= min_tail


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


# ------------------------------------------------------- process tree
_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # comm may contain spaces and parens: split after the last ')'
        return fh.read().rsplit(")", 1)[1].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant, from the ppid links in /proc."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            children[int(_stat_fields(int(entry))[1])].append(int(entry))
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
    out, pending = [], [root]
    while pending:
        pid = pending.pop()
        out.append(pid)
        pending.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree: utime+stime of each live process
    plus cutime+cstime, the time of its children it already reaped. A live
    process is in no one's cutime, so nothing is counted twice, and other
    tenants of the machine are not counted at all."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, IndexError, ValueError):
            continue
    return total / _HZ


def tree_hwm_mb(root: int | None = None) -> float:
    """Summed ``VmHWM`` (peak resident set) of the live process tree."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return kb / 1024.0


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` exists; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


# ---------------------------------------------------------------- spans
class Tracer:
    """Spans recorded around calls into the program's layers: name, start,
    end, parent span and op id, kept in memory and written at exit.

    With a SparkContext, every span also runs under its own Spark job group
    (``span-<id>``), so event-log task metrics can be attributed to it."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None
        self.op = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self._set_group(f"span-{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._set_group(prev)

    def _set_group(self, group):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh, indent=1)


# ---------------------------------------------------- Spark event log
_JOB_START = '{"Event":"SparkListenerJobStart"'
_TASK_END = '{"Event":"SparkListenerTaskEnd"'
SPAN_COUNTERS = ("task_s", "jobs", "shuffle_mb", "spill_mb", "failed_tasks")


def eventlog_counters(log_dir: str, span_names: dict[str, str]) -> dict:
    """Per span name: task_s (executor run time), jobs, shuffle_mb (shuffle
    bytes written), spill_mb (bytes spilled to disk) and failed_tasks,
    summed over the event-log files under ``log_dir``.

    ``span_names`` maps a job group (``span-<id>``) to its span name; jobs
    outside any span are not counted. Only job-start and task-end lines are
    decoded, so a large log parses in seconds."""
    out = {n: dict.fromkeys(SPAN_COUNTERS, 0.0) for n in span_names.values()}
    stage_span: dict[int, str] = {}
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f)
                   .startswith(("appstatus", ".")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                if line.startswith(_JOB_START):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    name = span_names.get(group)
                    if name is None:
                        continue
                    out[name]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        # a skipped stage is listed again by later jobs;
                        # its tasks ran under the first
                        stage_span.setdefault(sid, name)
                elif line.startswith(_TASK_END):
                    ev = json.loads(line)
                    name = stage_span.get(ev.get("Stage ID"))
                    if name is None:
                        continue
                    c = out[name]
                    if (ev.get("Task End Reason") or {}).get(
                            "Reason") != "Success":
                        c["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    c["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                    c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                    c["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0) / 1e6
    return out
