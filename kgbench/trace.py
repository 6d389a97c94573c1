"""Layer spans for the traced run, filled from Spark's status stores.

A span wraps one call into a layer's public function. It sets a Spark
job group named after the span, so every job the call starts carries
it; after the run, ``harvest`` reads the core status store (jobs and
stage attempts) and the SQL status store (per-operator metrics of
each execution) and attributes both to spans by job group. Spans are
kept in memory and written as JSON at the end. Nothing inside the
program is instrumented.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1e6

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric(text: str) -> float:
    """Spark's rendered SQL metric → number (bytes, ms, or a count).

    Renderings are ``'100,000'``, ``'15 ms'``, ``'8.2 MiB'`` or, for
    per-task metrics, ``'total (min, med, max ...)\\n4.5 KiB (...)'``.
    """
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME_MS.get(unit, 1.0))


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0
    # filled by harvest
    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    self_s: float = 0.0
    operators: list = field(default_factory=list)  # (name, desc, {metric: value})

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, prefix: str = "t"):
        self.spark = spark
        self.prefix = prefix
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.prefix}:{len(self.spans):03d}:{name}"
        s = Span(name, group, parent.group if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def find(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += [c for c in self.spans if c.parent == s.group]
        return out

    def harvest(self) -> None:
        """Attribute every job, stage attempt and SQL execution in the
        status stores to the span whose job group ran it; a span's
        counts include its child spans."""
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()
        by_group: dict[str, list] = defaultdict(list)
        group_of_job: dict[int, str] = {}
        for j in conv.asJava(store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined():
                by_group[g.get()].append(j)
                group_of_job[j.jobId()] = g.get()
        stage_attempts: dict[int, list] = defaultdict(list)
        empty = self.sc._gateway.new_array(jvm.double, 0)
        for st in conv.asJava(store.stageList(None, False, False, empty, None)):
            stage_attempts[st.stageId()].append(st)

        sql = self.spark._jsparkSession.sharedState().statusStore()
        ops_by_group: dict[str, list] = defaultdict(list)
        for e in conv.asJava(sql.executionsList()):
            groups = {group_of_job.get(int(j)) for j in conv.asJava(e.jobs()).keys()} - {None}
            if len(groups) != 1:
                continue
            group = groups.pop()
            metrics = conv.asJava(sql.executionMetrics(e.executionId()))
            for node in conv.asJava(sql.planGraph(e.executionId()).allNodes()):
                vals = {}
                for pm in conv.asJava(node.metrics()):
                    raw = metrics.get(pm.accumulatorId())
                    if raw is not None:
                        vals[pm.name()] = parse_metric(raw)
                ops_by_group[group].append((node.name(), node.desc(), vals))

        for span in self.spans:
            tree = self.subtree(span)
            seen_stages: set[int] = set()
            for s in tree:
                for j in by_group.get(s.group, []):
                    span.jobs += 1
                    span.failed_jobs += int(j.status().toString() == "FAILED")
                    seen_stages.update(int(x) for x in conv.asJava(j.stageIds()))
                span.operators += ops_by_group.get(s.group, [])
            for sid in seen_stages:
                attempts = [a for a in stage_attempts.get(sid, []) if a.status().toString() != "SKIPPED"]
                if attempts:
                    span.stages += 1
                for a in attempts:
                    span.tasks += a.numCompleteTasks() + a.numFailedTasks()
                    span.failed_tasks += a.numFailedTasks()
                    span.task_run_s += a.executorRunTime() / 1e3
                    span.task_cpu_s += a.executorCpuTime() / 1e9
                    span.gc_s += a.jvmGcTime() / 1e3
                    span.input_mb += a.inputBytes() / MB
                    span.shuffle_write_mb += a.shuffleWriteBytes() / MB
                    span.shuffle_read_mb += a.shuffleReadBytes() / MB
                    span.spill_mb += (a.memoryBytesSpilled() + a.diskBytesSpilled()) / MB
            children = [c for c in self.spans if c.parent == span.group]
            span.self_s = span.wall_s - sum(c.wall_s for c in children)

    def operator_metric(self, span: Span, op: str, metric: str, desc_re: str = "") -> float:
        """Sum of one SQL metric over the span's operators named ``op``
        whose description matches ``desc_re``."""
        return sum(
            vals.get(metric, 0.0)
            for name, desc, vals in span.operators
            if name == op and re.search(desc_re, desc)
        )

    def write_json(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        spans = []
        for s in self.spans:
            d = asdict(s)
            d["operators"] = [
                {"name": n, "desc": desc[:300], "metrics": v} for n, desc, v in s.operators if v
            ]
            d["start"] -= t0
            d["end"] -= t0
            d["wall_s"] = s.wall_s
            spans.append(d)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)
