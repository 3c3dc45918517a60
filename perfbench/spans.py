"""Tracing for the benchmark, from outside the library.

The benchmark records a span around each call it makes into a layer's
public function (and, in traced runs, around a few library functions it
wraps from outside, see `wrap`).  Nothing inside ``newsflow`` is
instrumented.  For every span the tracer

- tags the Spark jobs the call launches with ``setJobGroup`` (one group
  per span, so jobs are attributed to the innermost open span);
- after the enclosing op, reads job, stage and task counts per group
  from ``statusTracker`` (outside the op's timed region);
- at run end, reads per-job intervals, shuffle and spill bytes and task
  failures from the local Spark event log the traced run enables.

Spans stay in memory and are written once, at exit, as a JSON-lines
ledger.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op_id: int | None
    start: float  # epoch seconds (aligned with event-log timestamps)
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0


class Tracer:
    """Span recorder bound to one SparkContext at a time.

    ``active`` switches recording on and off between ops, so a traced run
    can interleave traced and untraced ops of the same kind and measure
    the tracer's own overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op_id: int | None = None
        self._stack: list[Span] = []
        self._sc = None
        self._seen_stages: set[int] = set()

    def bind(self, sc) -> None:
        # Stage ids restart with each SparkContext.
        self._sc = sc
        self._seen_stages = set()

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, parent, self.op_id, time.time())
        s.group = f"perfbench-{s.span_id}"
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(s.group, name)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.time()
        self._stack.pop()
        if self._sc is not None:
            if self._stack:
                self._sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def collect_counts(self, since: int = 0) -> None:
        """Fill job/stage/task counts of spans ``since..`` from the
        status tracker.  Called after an op, outside its timing."""
        if self._sc is None or len(self.spans) <= since:
            return
        st = self._sc.statusTracker()
        for s in self.spans[since:]:
            if not s.group or s.jobs:
                continue
            s.jobs = sorted(st.getJobIdsForGroup(s.group))
            for j in s.jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    # A stage is counted once, by the first job that ran
                    # it; later jobs list it again but skip it.
                    if sid in self._seen_stages:
                        continue
                    stage = st.getStageInfo(sid)
                    if stage is not None and stage.numCompletedTasks:
                        self._seen_stages.add(sid)
                        s.stages += 1
                        s.tasks += stage.numCompletedTasks

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that opens a span around
        each call.  Library code that imports the name at call time
        picks the wrapper up; nothing is changed on disk."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def write_ledger(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.span = tracer, name, None

    def __enter__(self):
        self.span = self.tracer._open(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


# --- event log --------------------------------------------------------------


@dataclass
class JobRecord:
    group: str | None
    start: float
    end: float
    shuffle_bytes: int = 0  # read + written by the stages this job ran
    spill_bytes: int = 0    # memory + disk
    task_failures: int = 0


def read_event_log(log_dir: str) -> list[JobRecord]:
    """Jobs of every application log under ``log_dir`` (plain JSON lines
    from Spark's event-logging listener; one file per SparkContext).  A
    stage's task metrics go to the first job that lists it: later jobs
    that reuse its shuffle output list it again but skip it."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    out: list[JobRecord] = []
    for path in files:
        jobs: dict[int, JobRecord] = {}
        owner: dict[int, JobRecord] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    props = ev.get("Properties") or {}
                    job = JobRecord(props.get("spark.jobGroup.id"), t, t)
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        owner.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in owner:
                    job = owner[ev["Stage ID"]]
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    job.task_failures += reason != "Success"
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    job.shuffle_bytes += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
        out.extend(jobs.values())
    return out


# --- per-span measures ---------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
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


def span_measures(spans: list[Span], jobs: list[JobRecord] | None) -> dict[int, dict]:
    """Measures of every span, inclusive of its descendants: ``s``,
    ``self_s``, ``jobs``, ``stages``, ``tasks`` and, given the event-log
    jobs, ``driver_gap_s`` (wall time not covered by any of the span's
    Spark jobs), ``shuffle_mb``, ``spill_mb`` and ``task_failures``."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_group: dict[str, list[JobRecord]] = {}
    for j in jobs or ():
        if j.group:
            by_group.setdefault(j.group, []).append(j)

    out: dict[int, dict] = {}
    for s in spans:
        tree, todo = [], [s]
        while todo:
            x = todo.pop()
            tree.append(x)
            todo.extend(children.get(x.span_id, []))
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.span_id, [])]
        m = {
            "s": wall,
            "self_s": wall - _union(kids),
            "jobs": sum(len(x.jobs) for x in tree),
            "stages": sum(x.stages for x in tree),
            "tasks": sum(x.tasks for x in tree),
        }
        if jobs is not None:
            js = [j for x in tree for j in by_group.get(x.group, [])]
            ivals = [(max(j.start, s.start), min(j.end, s.end)) for j in js]
            m["driver_gap_s"] = wall - _union([iv for iv in ivals if iv[1] > iv[0]])
            m["shuffle_mb"] = sum(j.shuffle_bytes for j in js) / 1e6
            m["spill_mb"] = sum(j.spill_bytes for j in js) / 1e6
            m["task_failures"] = sum(j.task_failures for j in js)
        out[s.span_id] = m
    return out


def layer_metrics(spans: list[Span], jobs: list[JobRecord] | None) -> dict[str, float]:
    """``<span name>.<measure>`` -> median over that name's spans, plus
    ``<span name>.n``, the span count."""
    per_span = span_measures(spans, jobs)
    grouped: dict[str, list[dict]] = {}
    for s in spans:
        grouped.setdefault(s.name, []).append(per_span[s.span_id])
    out: dict[str, float] = {}
    for name, ms in grouped.items():
        for key in ms[0]:
            out[f"{name}.{key}"] = statistics.median(m[key] for m in ms)
        out[f"{name}.n"] = len(ms)
    return out
