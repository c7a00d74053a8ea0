"""Spans around library calls, and the Spark event log folded into them.

A span records wall-clock start and end, its parent and the JVM's write
bytes; a pass span also records the CPU seconds of the whole process
tree. In a traced pass each span also tags the Spark jobs it issues
with ``setJobGroup``; after the run the event log is parsed and every job
is attributed to a span. Jobs started from the library's own driver
threads (``util.overlap_jobs``) do not inherit the job group, so they
go to the innermost span whose time window holds their submission time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
# event-log times are whole milliseconds; a job submitted in the same
# millisecond a span opens or closes still belongs to it
_SLACK_S = 0.002


def proc_io_wchar(pid: int) -> int:
    with open(f"/proc/{pid}/io") as fh:
        for line in fh:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    raise RuntimeError(f"no wchar in /proc/{pid}/io")


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, of ``root`` and every live descendant,
    each with the time of the children it has reaped."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process exited while the table was read
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += [child for child, ppid in parent.items() if ppid == pid]
    return total / os.sysconf("SC_CLK_TCK")


def proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str | None
    kind: str | None
    tagged: bool
    t0: float = 0.0
    t1: float = 0.0
    wchar: int = 0
    cpu: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; with ``tag_jobs`` on, also tags their Spark jobs."""

    def __init__(self, sc, jvm_pid: int):
        self.sc = sc
        self.jvm_pid = jvm_pid
        self.tag_jobs = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid].name, False)

    @contextmanager
    def span(self, name: str, layer: str | None = None, kind: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, layer, kind, self.tag_jobs)
        self.spans.append(s)
        self._stack.append(s.sid)
        if s.tagged:
            self._set_group(s.sid)
        w0 = proc_io_wchar(self.jvm_pid)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            s.wchar = proc_io_wchar(self.jvm_pid) - w0
            self._stack.pop()
            if s.tagged:
                self._set_group(parent)


class EventLogToggle:
    """Detach and re-attach Spark's event-log listener, so untraced
    passes run with event logging off inside one application."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        self._jsc = jsc
        self._listener = jsc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on == self.on:
            return
        if on:
            self._jsc.addSparkListener(self._listener)
        else:
            self._jsc.removeSparkListener(self._listener)
        self.on = on


@dataclass
class Job:
    jid: int
    submit: float
    end: float | None
    group: str | None
    stage_ids: list


@dataclass
class Stage:
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(path: str) -> tuple[dict, dict]:
    """Jobs and per-stage task totals from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000.0,
                    None,
                    props.get("spark.jobGroup.id"),
                    list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage())
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.task_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get(
                    "Memory Bytes Spilled", 0
                )
    return jobs, stages


def event_log_path(evdir: str, app_id: str) -> str:
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path) and os.path.exists(path + ".inprogress"):
        path += ".inprogress"
    return path


def attribute_jobs(tracer: Tracer, jobs: dict) -> int:
    """Attach every job to a span; return the number left unattributed.

    A job whose group names a span goes there. Any other job goes to the
    innermost span whose window holds its submission time."""
    by_sid = tracer.spans
    untagged = 0
    for job in jobs.values():
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        else:
            inner = None
            for s in by_sid:
                if s.t0 - _SLACK_S <= job.submit <= s.t1 + _SLACK_S:
                    if inner is None or s.t0 >= inner.t0:
                        inner = s
            sid = inner.sid if inner is not None else None
        if sid is None:
            untagged += 1
        else:
            by_sid[sid].jobs.append(job)
    return untagged


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(span: Span, jobs: list[Job], stages: dict, stage_owner: dict) -> dict:
    """Layer fields of one span from the jobs attributed to it (and, for
    ``gap_s``, its window minus the union of those jobs' intervals)."""
    out = dict.fromkeys(("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_bytes", "spill_bytes"), 0)
    windows = []
    for job in jobs:
        out["jobs"] += 1
        end = job.end if job.end is not None else span.t1
        windows.append((max(job.submit, span.t0), min(end, span.t1)))
        for sid in job.stage_ids:
            st = stages.get(sid)
            if st is None or stage_owner.get(sid) != job.jid:
                continue  # skipped stage, or one that ran in an earlier job
            out["stages"] += 1
            out["tasks"] += st.tasks
            out["task_s"] += st.task_ms / 1000.0
            out["gc_s"] += st.gc_ms / 1000.0
            out["shuffle_bytes"] += st.shuffle_bytes
            out["spill_bytes"] += st.spill_bytes
    out["gap_s"] = max(0.0, span.dur - union_len([w for w in windows if w[1] > w[0]]))
    return out


def stage_owners(jobs: dict) -> dict:
    """Stage id -> the first job that lists it (later jobs skip it)."""
    owner = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stage_ids:
            owner.setdefault(sid, jid)
    return owner
