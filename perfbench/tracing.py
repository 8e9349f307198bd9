"""Traced-run collector: spans at each layer boundary plus per-layer counts.

Everything is measured from outside the package:

- spans around the benchmark's own calls into each layer
  (``operators.build`` = the ``registry.QUERIES[name](spark, dir)`` call,
  ``plan.executed_plan`` = ``df._jdf.queryExecution().executedPlan()``,
  ``exec.run`` = the forcing write, ``convert.*`` = the conversion calls);
- ``io.*`` spans from wrappers rebound, for the traced passes only, in
  every ``json_parquet_convertor_spark`` module that imported the
  function by name;
- execution counts from Spark's SQL status store (the plan graph's
  formatted operator metrics, parsed back to numbers) and the app status
  store (tasks per job);
- streaming progress from a ``StreamingQueryListener``;
- JVM GC time from the GarbageCollectorMXBeans.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

IO_FUNCS = ("load_table", "spread", "read_json", "write_parquet")
PACKAGE = "json_parquet_convertor_spark"

#: plan-graph metric name -> counter; summed over every operator
SUMMED = {
    "number of output rows": "exec.output_rows",
    "shuffle bytes written": "exec.shuffle_write_bytes",
    "shuffle records written": "exec.shuffle_records",
    "spill size": "exec.spill_bytes",
}
#: every counter a traced call can report (zero when a call has none)
COUNTS = (
    "exec.sql_executions", "exec.jobs", "exec.tasks", "exec.output_rows",
    "exec.shuffle_write_bytes", "exec.shuffle_records", "exec.spill_bytes",
    "exec.peak_mem_bytes", "stream.batches", "stream.add_batch_s",
    "stream.query_planning_s", "stream.wal_commit_s", "stream.state_rows",
    "stream.state_mem_bytes", "convert.bytes_out_per_byte_in",
)
#: counters that keep the largest value seen instead of a sum
PEAKS = ("exec.peak_mem_bytes", "stream.state_mem_bytes")
UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_LABEL = re.compile(r'label="<b>([^<]*)</b><br><br>([^"]*)"')


def parse_metric(text: str) -> float:
    """``'60,000'`` -> 60000, ``'4.3 KiB'`` -> 4403.2, ``'2.2 s'`` -> 2.2."""
    parts = text.replace(",", "").split()
    value = float(parts[0])
    return value * UNITS[parts[1]] if len(parts) > 1 else value


def plan_metrics(dot: str) -> list[tuple[str, str, float]]:
    """``(operator, metric, value)`` for every operator metric in a plan
    graph rendered by ``SparkPlanGraph.makeDotFile``. A metric aggregated
    over several tasks renders as ``name total (min, med, max ...)``
    followed by its value line; a single-task metric as ``name: value``."""
    out = []
    for op, body in _LABEL.findall(dot):
        items = body.split("<br>")
        i = 0
        while i < len(items):
            item = items[i]
            if " total (min, med, max" in item and i + 1 < len(items):
                name, value = item.split(" total (")[0], items[i + 1]
                i += 2
            elif ": " in item:
                name, value = item.split(": ", 1)
                i += 1
            else:
                i += 1
                continue
            with contextlib.suppress(ValueError, KeyError, IndexError):
                out.append((op, name, parse_metric(value.split(" (")[0])))
    return out


class _Progress(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append({
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Records spans and counts for traced calls; inert until ``start``.
    ``start`` and ``stop`` bracket each traced pass."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self._stack: list[int] = []
        self._call: dict | None = None
        self._patched: list[tuple[object, str, object]] = []
        jvm = spark._jvm
        jsc = spark.sparkContext._jsc.sc()
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gc = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._listener = _Progress()
        self.gc_total_s = 0.0

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> None:
        """Rebind the io wrappers and attach the streaming listener."""
        io = sys.modules[f"{PACKAGE}.sources.io"]
        for fname in IO_FUNCS:
            original = getattr(io, fname)
            wrapped = self._wrap(f"io.{fname}", original)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(PACKAGE)
                        and getattr(mod, fname, None) is original):
                    setattr(mod, fname, wrapped)
                    self._patched.append((mod, fname, original))
        self.spark.streams.addListener(self._listener)
        self._gc_start = self.gc_s()

    def stop(self) -> None:
        for mod, fname, original in self._patched:
            setattr(mod, fname, original)
        self._patched.clear()
        self.spark.streams.removeListener(self._listener)
        self.gc_total_s += self.gc_s() - self._gc_start

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc) / 1000.0

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "call": self._call["id"] if self._call else None,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._call is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def call(self, name: str):
        """One workload call; its spans share the call's id. Status-store
        and listener reads happen after the root span closes, so they count
        as tracing overhead, not as any layer's time."""
        n_exec = self._sql.executionsCount()
        n_events = len(self._listener.events)
        self._call = {"id": len(self.calls), "name": name}
        try:
            with self.span("call") as root:
                yield
        finally:
            self._call = None
        with self.span("trace.collect"):
            self._bus.waitUntilEmpty()
            counts = self._exec_counts(n_exec)
            counts.update(_stream_counts(self._listener.events[n_events:]))
        self.calls.append({
            "id": len(self.calls),
            "name": name,
            "wall_s": root["end"] - root["start"],
            "counts": counts,
        })

    def _exec_counts(self, n_before: int) -> Counter:
        counts: Counter = Counter()
        n_after = self._sql.executionsCount()
        new = self._cc.asJava(
            self._sql.executionsList(n_before, n_after - n_before)
        )
        peak = 0.0
        for ex in new:
            eid = ex.executionId()
            counts["exec.sql_executions"] += 1
            for job in self._cc.asJava(ex.jobs()).keySet():
                counts["exec.jobs"] += 1
                counts["exec.tasks"] += self._app.job(job).numTasks()
            dot = self._sql.planGraph(eid).makeDotFile(
                self._sql.executionMetrics(eid)
            )
            for _op, metric, value in plan_metrics(dot):
                if metric in SUMMED:
                    counts[SUMMED[metric]] += value
                elif metric == "peak memory":
                    peak = max(peak, value)
        counts["exec.peak_mem_bytes"] = peak
        return counts


def _stream_counts(batches: list[dict]) -> Counter:
    counts: Counter = Counter()
    for b in batches:
        d = b["duration_ms"]
        counts["stream.batches"] += 1
        counts["stream.add_batch_s"] += d.get("addBatch", 0) / 1000.0
        counts["stream.query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
        counts["stream.wal_commit_s"] += d.get("walCommit", 0) / 1000.0
        counts["stream.state_rows"] += b["state_rows"]
        counts["stream.state_mem_bytes"] = max(
            counts["stream.state_mem_bytes"], b["state_mem_bytes"]
        )
    return counts


def self_times(spans: list[dict]) -> Counter:
    """Per span name: duration minus the part covered by child spans."""
    child: Counter = Counter()
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: Counter = Counter()
    for s in spans:
        out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
    return out


def totals(spans: list[dict]) -> tuple[Counter, Counter]:
    """Per span name: (total duration, number of spans)."""
    dur: Counter = Counter()
    n: Counter = Counter()
    for s in spans:
        dur[s["name"]] += s["end"] - s["start"]
        n[s["name"]] += 1
    return dur, n


def per_call(tracer: Tracer) -> dict[str, dict[str, float]]:
    """Per call name, medians over its traced calls: wall time, time in
    each span name, and each nonzero count."""
    import statistics
    from collections import defaultdict

    spans: dict[int, Counter] = defaultdict(Counter)
    for s in tracer.spans:
        if s["call"] is not None:
            spans[s["call"]][s["name"]] += s["end"] - s["start"]
    values: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for c in tracer.calls:
        v = values[c["name"]]
        v["wall_s"].append(c["wall_s"])
        for k, x in spans[c["id"]].items():
            if k != "call":
                v[f"{k}_s"].append(x)
        for k, x in c["counts"].items():
            v[k].append(x)
    return {
        name: {k: statistics.median(x) for k, x in v.items() if any(x)}
        for name, v in values.items()
    }
