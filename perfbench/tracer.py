"""Spans, self times, process counters and Spark status counters.

Spans are plain records kept in memory (name, start, end, parent, the
iteration id they belong to, and any counts attached to them) and are
written out once, when the benchmark ends. Timings come from
``time.perf_counter``; a span costs a few microseconds, so the timed
code records them in both modes. Only the traced mode adds the
Spark-side work: draining the listener bus, reading the application
status store and forcing Catalyst to plan a frame before it runs.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    iteration: int
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans on one thread: a span's parent is the span open
    when it starts. ``iteration`` tags every span with the id of the
    iteration (or set-up step) that caused it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.iteration = 0

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, time.perf_counter(), parent, self.iteration)
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "iteration": s.iteration,
                            "self_s": self.self_time(s),
                            "counts": s.counts,
                        }
                    )
                    + "\n"
                )


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


def percentile_with_tail(samples: list[float], beyond: int = 10):
    """The highest sample that has at least ``beyond`` samples above it,
    with its percentile rank; falls back to the maximum when there are
    too few samples."""
    xs = sorted(samples)
    k = len(xs) - 1 - beyond
    if k < 0:
        k = len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


# -- process counters ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    tree, todo = [root], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.extend(kids)
        todo.extend(kids)
    return tree


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the process tree: every live
    process, plus what exited children were charged to their parents.
    Deltas of this stay right while workers come and go, as long as
    their parents reap them."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime (fields 14-17 of proc(5))
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


# -- Spark status counters ----------------------------------------------


class SparkCounters:
    """Job, stage and task totals from the application status store —
    the store behind Spark's REST API, read through py4j so the
    session keeps its default configuration (its web UI is off).
    Reads wait for the listener bus to drain first, so the counts of
    finished actions are complete."""

    STAGE_FIELDS = (
        ("spark.tasks", "numCompleteTasks", 1),
        ("spark.input_bytes", "inputBytes", 1),
        ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
        ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
        ("spark.executor_run_s", "executorRunTime", 1e-3),
        ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
        ("spark.gc_s", "jvmGcTime", 1e-3),
    )

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self) -> list[int]:
        self.drain()
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def _stages(self) -> list[dict]:
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(seq))

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest stage id) seen so far."""
        jobs = self.job_ids()
        stages = self._stages()
        return (
            max(jobs, default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Totals over the jobs and stages started after ``mark``.
        Skipped stages (reused shuffle output) ran no tasks and are not
        counted as stages."""
        job_mark, stage_mark = mark
        jobs = [j for j in self.job_ids() if j > job_mark]
        ran = [
            s
            for s in self._stages()
            if s["stageId"] > stage_mark and s["status"] != "SKIPPED"
        ]
        out: dict[str, float] = {
            "spark.jobs": len(jobs),
            "spark.stages": len(ran),
        }
        for name, key, scale in self.STAGE_FIELDS:
            out[name] = sum(s.get(key, 0) for s in ran) * scale
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` now and return the seconds its query execution spent
    in analysis, optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"catalyst.{phase}_s"] = (
            p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
        )
    return out
