"""Traced-run instrumentation, kept entirely in the benchmark: a span
recorder that wraps the program's layer functions where the entry points
look them up, and readers for Spark's status stores (jobs, stages, SQL
executions and their metrics) through py4j.

The wrappers replace module attributes for the duration of one traced
iteration and restore them afterwards; nothing under the program's package
is edited.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store renders it -- ``"20,681"``,
    ``"0 ms"`` or ``"total (min, med, max ...)\\n8.6 s (451 ms, ...)"`` --
    as a number in seconds, bytes or rows."""
    total = text.split("\n", 1)[-1].split(" (", 1)[0].strip()
    m = re.fullmatch(r"(-?[\d,.]+)\s*(\S+)?", total)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SparkStatus:
    """Job, stage and SQL-execution records of one SparkSession, read from
    the status stores that back the web UI (populated with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def flush(self) -> None:
        """Wait until every posted listener event reached the stores."""
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        """Retained stages, newest (highest id) first."""
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList())

    def mark(self) -> dict:
        """Counters to diff against: jobs, stages and executions so far."""
        self.flush()
        stages = self._stages()
        return {"jobs": self._store.jobsList(None).size(),
                "stages": stages.size(),
                "stage": stages.apply(0).stageId() if stages.size() else -1,
                "exec": self._sql.executionsCount()}

    def jobs_since(self, mark: dict) -> int:
        self.flush()
        return self._store.jobsList(None).size() - mark["jobs"]

    def stages_since(self, mark: dict) -> int:
        return self._stages().size() - mark["stages"]

    def stage_totals(self, mark: dict) -> dict:
        """Stages, tasks, executor CPU and shuffle bytes of every stage
        submitted after ``mark`` (skipped stages ran no tasks)."""
        out = {"stages": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_write": 0,
               "shuffle_read": 0}
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark["stage"]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_write"] += s.shuffleWriteBytes()
            out["shuffle_read"] += s.shuffleReadBytes()
        return out

    def executions_since(self, mark: dict, node_names: tuple[str, ...]) -> list:
        """For each SQL execution after ``mark``: its duration and the
        metrics of plan nodes whose name starts with one of
        ``node_names``, as ``{"s": float, "nodes": [(name, {metric:
        value})]}``."""
        self.flush()
        execs = self._sql.executionsList()
        out = []
        for i in range(mark["exec"], execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            end = e.completionTime()
            dur = ((end.get().getTime() - e.submissionTime()) / 1e3
                   if end.isDefined() else 0.0)
            values = self._sql.executionMetrics(eid)
            nodes = []
            graph = self._sql.planGraph(eid).allNodes()
            for j in range(graph.size()):
                node = graph.apply(j)
                if not node.name().startswith(node_names):
                    continue
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(v.get()) if v.isDefined() else 0.0
                nodes.append((node.name(), metrics))
            out.append({"s": dur, "nodes": nodes})
        return out


class Tracer:
    """Spans at layer boundaries: name, start, end, parent, and the jobs
    and stages Spark ran inside. Spans are kept in memory; ``self_s``
    subtracts the time covered by child spans."""

    def __init__(self, status: SparkStatus):
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        mark = self.status.mark()
        rec["exec"] = mark["exec"]
        rec["start"] = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = self.status.jobs_since(mark)
            rec["stages"] = self.status.stages_since(mark)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` by a spanned call; ``on_result(args,
        kwargs, result)`` may record counts from the call."""
        original = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, result)
            return result

        self._patched.append((module, attr, original))
        setattr(module, attr, spanned)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def total(self, prefix: str, self_time: bool = True) -> float:
        """Summed duration (or self time) of the outermost spans named
        ``prefix*``."""
        return sum(self.self_s(i) if self_time else s["end"] - s["start"]
                   for i, s in enumerate(self.spans)
                   if s["name"].startswith(prefix) and not self._inside(i, prefix))

    def _inside(self, i: int, prefix: str) -> bool:
        p = self.spans[i]["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def self_s(self, i: int) -> float:
        s = self.spans[i]
        children = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
        return s["end"] - s["start"] - children

    def count(self, prefix: str, key: str) -> int:
        return sum(s[key] for s in self.spans if s["name"].startswith(prefix))
