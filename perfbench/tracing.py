"""Span recorder and JVM-side counters for the traced run.

Spans are recorded from outside the program, around calls into each module's
public functions. Each span keeps name, start, end and parent, plus the
counter deltas that occurred inside it:

- py4j commands, counted by wrapping the py4j client's ``send_command`` in
  this process only;
- Catalyst rule time (``RuleExecutor.getCurrentMetrics``), codegen compiles
  (``CodegenMetrics``) and GC time (GC MXBeans), through the session's JVM;
- executed-plan SQL metrics of every SQL execution that started inside the
  span, read from the session's SQL status store (never from static plans),
  and jobs / stages / tasks from the app status store.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric's total as a number (bytes, seconds or a count). The
    store formats task-level metrics as ``total (min, med, max ...)\\n<total>
    (...)``; driver-level ones as the bare value."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark):
        self.jvm = spark._jvm
        self.sc = spark._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._client, self._send = client, send
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = self.sc.statusStore()

    def close(self) -> None:
        self._client.send_command = self._send

    # -- JVM counters ------------------------------------------------------
    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def counters(self) -> dict:
        calls = self.py4j_calls
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        gc_ms = sum(b.getCollectionTime() for b in beans)
        out = {
            "catalyst_s": self.jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time() / 1e9,
            "codegen_compiles": self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
            "gc_s": gc_ms / 1e3,
        }
        self.py4j_calls = calls  # the reads above are not the program's calls
        out["py4j_calls"] = calls
        return out

    def _executions_since(self, count: int) -> list:
        """SQL executions recorded after the store held ``count`` of them
        (ids are dense and the store is configured to retain them all)."""
        n = self._sql_store.executionsCount()
        return list(_seq(self._sql_store.executionsList(count, n - count))) if n > count else []

    def status_delta(self, count: int, skew: bool) -> dict:
        """Executed-plan metrics summed by name, plus jobs, stages and tasks
        of every SQL execution since ``count``; with ``skew`` also the
        slowest / median task time of its stages (read task by task)."""
        totals: dict[str, float] = {"peak memory (max)": 0.0}
        jobs, stages = 0, set()
        for e in self._executions_since(count):
            values = self._sql_store.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                x = metric_value(v.get())
                if m.name() == "peak memory":
                    totals["peak memory (max)"] = max(totals["peak memory (max)"], x)
                totals[m.name()] = totals.get(m.name(), 0.0) + x
            jobs += e.jobs().size()
            stages.update(_seq(e.stages()))
        tasks, skews = 0, []
        for sid in stages:
            try:
                s = self._app_store.lastStageAttempt(sid)
            except Exception:  # skipped stages have no attempt
                continue
            tasks += s.numTasks()
            if not skew:
                continue
            durs = sorted(
                t.duration().get()
                for t in _seq(self._app_store.taskList(sid, s.attemptId(), 100000))
                if t.duration().isDefined()
            )
            if len(durs) > 1 and durs[len(durs) // 2] > 0:
                skews.append(durs[-1] / durs[len(durs) // 2])
        return {
            "sql": totals,
            "jobs": jobs,
            "stages": len(stages),
            "tasks": tasks,
            "task_skew": max(skews, default=1.0),
        }

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, status: bool = False, skew: bool = False):
        """Record a span. With ``status`` the span also keeps the SQL and
        stage metrics of the work it ran (this drains the listener bus at
        both ends, so it is used only around execution, not construction);
        the time those reads take is kept as ``status_read_s``."""
        if status:
            t = time.perf_counter()
            self._drain()
            before = self._sql_store.executionsCount()
            read_s = time.perf_counter() - t
        c0 = self.counters()
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            c1 = self.counters()
            rec.update({k: c1[k] - c0[k] for k in c0})
            if status:
                t = time.perf_counter()
                self._drain()
                rec.update(self.status_delta(before, skew))
                rec["status_read_s"] = read_s + time.perf_counter() - t

    def cached_bytes(self) -> int:
        """Storage size (memory plus disk) of every persisted relation."""
        return sum(r.memSize() + r.diskSize() for r in self.sc.getRDDStorageInfo())
