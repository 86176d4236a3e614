"""Spans around layer calls, the Spark event-log parser that attributes
stage and task metrics to them, and a process-tree RSS sampler.

A span is opened by the benchmark around one call into a layer's public
function. While tracing, each span instance gets its own Spark job group,
so every job the call triggers carries the span's id in the event log.
Spans are kept in memory; ``span_metrics`` joins them with the parsed
event log after the SparkContext has stopped and the log is complete.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Counters reported for every span, in output order.
SPAN_COUNTERS = (
    "wall_s",
    "self_s",
    "idle_s",
    "jobs",
    "tasks",
    "core_util",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "py_sent_mb",
    "py_run_s",
)
SPAN_UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "idle_s": "s",
    "jobs": "count",
    "tasks": "count",
    "core_util": "ratio",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "py_sent_mb": "MB",
    "py_run_s": "s",
}
MB = 1024.0 * 1024.0
_PY_SENT = "data sent to Python workers"
_PY_RUN = "time to run Python workers"


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    pass_no: int
    start: float  # epoch seconds, comparable with event-log millis
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans; sets a Spark job group per span while enabled.

    Disabled tracers time nothing and touch no Spark state, so the
    untraced measurement path is the plain program call."""

    sc: object | None = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    pass_no: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"pb{idx}"
        self.spans.append(Span(name, group, parent, self.pass_no, time.time()))
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:  # back to no group: None clears the JVM local properties
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# ------------------------------------------------------------- event log
@dataclass
class Stage:
    stage_id: int
    name: str
    submit_ms: int = 0
    complete_ms: int = 0
    group: str | None = None
    run_ms: int = 0
    gc_ms: int = 0
    tasks: int = 0
    shuffle_write: int = 0
    spill: int = 0
    py_sent: int = 0
    py_run_ms: int = 0


def parse_event_log(path: str) -> tuple[dict[str, list[int]], dict[int, Stage]]:
    """(job group -> job ids, stage id -> Stage) from an uncompressed
    JSON-lines Spark event log."""
    jobs: dict[str, list[int]] = defaultdict(list)
    stage_group: dict[int, str] = {}
    stages: dict[int, Stage] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                jobs[group].append(ev["Job ID"])
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                st = stages.setdefault(sid, Stage(sid, ""))
                st.name = info.get("Stage Name", "")
                st.submit_ms = info.get("Submission Time") or 0
                st.complete_ms = info.get("Completion Time") or 0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, Stage(sid, ""))
                tm = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += tm.get("Executor Run Time", 0)
                st.gc_ms += tm.get("JVM GC Time", 0)
                st.spill += tm.get("Disk Bytes Spilled", 0)
                st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == _PY_SENT:
                        st.py_sent += int(acc.get("Update", 0))
                    elif acc.get("Name") == _PY_RUN:
                        st.py_run_ms += int(acc.get("Update", 0))
    for sid, st in stages.items():
        st.group = stage_group.get(sid)
    return jobs, stages


def find_event_log(log_dir: str) -> str:
    """The single finished (not ``.inprogress``) log in ``log_dir``."""
    logs = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def stage_kind(st: Stage) -> str | None:
    """Call-site bucket of an ``als.fit`` stage: stages that write shuffle
    output are map stages whatever action ran them; result stages are
    grouped by the action in the call site Spark records."""
    if st.shuffle_write > 0:
        return "shuffle_map_stage_s"
    action = st.name.split(" ", 1)[0]
    if action in ("localCheckpoint", "checkpoint"):
        return "checkpoint_stage_s"
    if action == "collect":
        return "collect_stage_s"
    return None


def span_metrics(
    tracer: Tracer, jobs: dict[str, list[int]], stages: dict[int, Stage], cores: int
) -> tuple[dict[tuple[int, str], dict[str, float]], dict[tuple[int, str], dict[str, float]]]:
    """Per (pass, span name): the SPAN_COUNTERS summed over the span's
    instances in that pass, plus als.fit's stage time by call-site kind."""
    by_group: dict[str, list[Stage]] = defaultdict(list)
    for st in stages.values():
        if st.group is not None:
            by_group[st.group].append(st)
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in tracer.spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)

    per: dict[tuple[int, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    kinds: dict[tuple[int, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for idx, sp in enumerate(tracer.spans):
        wall = sp.end - sp.start
        sts = by_group.get(sp.group, [])
        stage_iv = [
            (s.submit_ms / 1000.0, s.complete_ms / 1000.0) for s in sts if s.complete_ms
        ]
        child_iv = [(c.start, c.end) for c in children.get(idx, [])]
        run_s = sum(s.run_ms for s in sts) / 1000.0
        m = per[(sp.pass_no, sp.name)]
        m["wall_s"] += wall
        m["self_s"] += wall - _covered(child_iv, sp.start, sp.end)
        m["idle_s"] += wall - _covered(stage_iv, sp.start, sp.end)
        m["jobs"] += len(jobs.get(sp.group, []))
        m["tasks"] += sum(s.tasks for s in sts)
        m["_run_s"] += run_s
        m["gc_s"] += sum(s.gc_ms for s in sts) / 1000.0
        m["shuffle_write_mb"] += sum(s.shuffle_write for s in sts) / MB
        m["spill_mb"] += sum(s.spill for s in sts) / MB
        m["py_sent_mb"] += sum(s.py_sent for s in sts) / MB
        m["py_run_s"] += sum(s.py_run_ms for s in sts) / 1000.0
        for s in sts:
            kind = stage_kind(s)
            if kind and s.complete_ms:
                kinds[(sp.pass_no, sp.name)][kind] += (s.complete_ms - s.submit_ms) / 1000.0
    for m in per.values():
        m["core_util"] = m.pop("_run_s") / (m["wall_s"] * cores) if m["wall_s"] > 0 else 0.0
    return per, kinds


# ------------------------------------------------------------------ RSS
def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it (the JVM and the Python
    workers it forks), found via the ppid field of /proc/*/stat."""
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    """Sum of the resident set sizes of ``pids`` (gone ones count 0)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


RSS_INTERVAL_S = 0.2  # between RSS samples
RSS_RESCAN_S = 1.0  # between re-listings of the process tree


class RssSampler:
    """Samples the process tree's RSS on a background thread every
    RSS_INTERVAL_S (re-listing the tree every RSS_RESCAN_S); ``peak``
    holds the largest sample. Use as a context manager so the thread is
    always stopped and joined."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root, pids, listed = os.getpid(), [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed >= RSS_RESCAN_S:
                pids, listed = descendants(root), now
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
