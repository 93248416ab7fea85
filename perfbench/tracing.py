"""Per-layer tracing for the benchmark's traced runs (``--trace 1``).

Nothing here changes a program file. Spans and counts come from three
places, all read from outside the engine:

- the benchmark's own wrappers around the public functions of
  ``tables`` and ``sources.lakehouse`` (installed by
  ``Tracer.wrap_modules`` by rebinding the module attributes and every
  ``from ... import`` copy of them);
- Spark's core status store (jobs, stages, task CPU, GC, shuffle) and
  SQL status store (Python-worker metrics), read after each operation;
- a ``StreamingQueryListener`` (micro-batches, their ``addBatch`` time
  and input rows);
- ``/proc`` (CPU split between driver, JVM and Python workers, read by
  the runner through ``procfs``).

Spans are kept in memory and written out by ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from collections import defaultdict

WRAPPED = {
    "apache_spark_irs_form_990_spark.tables": ("tables", ["load"]),
    "apache_spark_irs_form_990_spark.sources.lakehouse": ("lakehouse", [
        "create_table", "merge_into", "append_table", "delete_keys_mor",
        "read_changes", "read_snapshot", "compact_table", "vacuum_table",
    ]),
}
MB = 1e6
# calls that each add one commit to a lakehouse table
COMMITS = {"create_table", "merge_into", "append_table", "delete_keys_mor",
           "compact_table", "vacuum_table"}
# Spark's Python SQL metrics: the counter each adds to, and its scale
PY_METRICS = {
    "time to start Python workers": ("pyworker.boot_s", 1.0),
    "time to initialize Python workers": ("pyworker.init_s", 1.0),
    "time to run Python workers": ("pyworker.run_s", 1.0),
    "data sent to Python workers": ("pyworker.sent_mb", 1 / MB),
    "data returned from Python workers": ("pyworker.returned_mb", 1 / MB),
}
PY_NODE = re.compile(r"InPandas|InArrow|Python")
NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")
UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def metric_total(text: str) -> float:
    """The total of one SQL metric as the SQL status store formats it:
    either ``"12 ms"`` or ``"total (min, med, max ...)\\n3.4 s (...)"``."""
    line = text.split("\n")[-1].strip()
    num, _, rest = line.partition(" ")
    unit = rest.split(" ")[0] if rest else ""
    return float(num.replace(",", "")) * UNITS.get(unit, 1.0)


def plan_counts(plan: str) -> tuple[int, int]:
    """(exchanges, Python nodes) in a physical plan's tree string."""
    exchanges = python = 0
    for line in plan.splitlines():
        m = NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        exchanges += node.endswith("Exchange")
        python += bool(PY_NODE.search(node))
    return exchanges, python


def _stream_listener(tracer: "Tracer"):
    """A listener that counts each micro-batch, its ``addBatch`` time and
    its input rows in the pass that is running when Spark reports the
    batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            tracer.add("streaming.batches", 1)
            tracer.add("streaming.add_batch_s", p.durationMs.get("addBatch", 0) / 1e3)
            tracer.add("streaming.input_rows", p.numInputRows)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Listener()


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_id = 0
        self.op_span: int | None = None
        self.lock = threading.Lock()
        self.local = threading.local()
        self.counts: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.last_job = -1
        self.last_exec = -1
        self.seen_stages: set[int] = set()
        self.group_seq = 0
        self.jstore = self.sc._jsc.sc().statusStore()
        self.sqlstore = spark._jsparkSession.sharedState().statusStore()
        self.collect_spark(count=False)  # what ran before tracing began counts nowhere
        spark.streams.addListener(_stream_listener(self))

    # ------------------------------------------------------------- spans

    def span(self, name: str, start: float, end: float, parent: int | None) -> int:
        with self.lock:
            self.spans.append({"id": len(self.spans), "name": name, "start": start,
                               "end": end, "parent": parent, "pass": self.pass_id})
            return len(self.spans) - 1

    def add(self, key: str, value: float) -> None:
        with self.lock:
            self.counts[self.pass_id][key] += value

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "passes": {p: dict(c) for p, c in self.counts.items()}}, f)

    # ----------------------------------------------------------- wrappers

    def wrap_modules(self) -> None:
        for modname, (layer, fns) in WRAPPED.items():
            mod = sys.modules[modname]
            for fn_name in fns:
                orig = getattr(mod, fn_name)
                wrapped = self._wrapper(layer, fn_name, orig)
                for other in list(sys.modules.values()):
                    if getattr(other, "__name__", "").startswith("apache_spark_irs_form_990_spark"):
                        for attr, val in list(vars(other).items()):
                            if val is orig:
                                setattr(other, attr, wrapped)

    def _wrapper(self, layer: str, fn_name: str, orig):
        """Time the call, and count the Spark jobs it launches itself by
        running it under a job group of its own (nested wrapped calls
        hand their jobs up to the caller)."""
        name = f"{layer}.{fn_name}"

        @functools.wraps(orig)
        def call(*args, **kwargs):
            stack = getattr(self.local, "stack", None)
            if stack is None:
                stack = self.local.stack = []
            with self.lock:
                self.group_seq += 1
                group = f"{self.sc.getLocalProperty('spark.jobGroup.id') or '-'}/{name}#{self.group_seq}"
            prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                    self.sc.getLocalProperty("spark.job.description"))
            self.sc.setJobGroup(group, name)
            stack.append(0)
            t0 = time.time()
            try:
                result = orig(*args, **kwargs)
            finally:
                t1 = time.time()
                jobs = len(self.sc.statusTracker().getJobIdsForGroup(group)) + stack.pop()
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])
                if stack:
                    stack[-1] += jobs
                self.span(name, t0, t1, self.op_span)
                self.add(f"{name}.s", t1 - t0)
                self.add(f"{name}.calls", 1)
                self.add(f"{name}.jobs", jobs)
            if layer == "lakehouse" and fn_name in COMMITS:
                self.add("lakehouse.commits", 1)
                self.add("lakehouse.commit_jobs", jobs)
                self.add("lakehouse.bytes_written_mb", self._commit_bytes(fn_name, args, result) / MB)
            return result

        return call

    @staticmethod
    def _commit_bytes(fn_name: str, args, result) -> int:
        """Bytes of the data files the commit just made added."""
        import os

        from apache_spark_irs_form_990_spark.sources import lakehouse as lh

        path = args[0] if fn_name == "vacuum_table" else args[1]
        version = result["version"] if isinstance(result, dict) else result
        added = lh._read_commit(path, version).get("added", {})
        return sum(os.path.getsize(os.path.join(path, rel)) for rel in added
                   if os.path.exists(os.path.join(path, rel)))

    # ------------------------------------------------------- status stores

    def collect_spark(self, count: bool = True) -> list[tuple[float, float]]:
        """Attribute every job and SQL execution that finished since the
        last call to the current pass. Returns the stage intervals."""
        intervals = []
        newest = self.last_job
        for job in _iter(self.jstore.jobsList(None)):
            jid = job.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            if count:
                self.add("spark.jobs", 1)
            for sid in _iter(job.stageIds()):
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                try:
                    st = self.jstore.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                if str(st.status()) != "COMPLETE" or not count:
                    continue
                self.add("spark.stages", 1)
                self.add("spark.tasks", st.numTasks())
                self.add("spark.executor_run_s", st.executorRunTime() / 1e3)
                self.add("spark.executor_cpu_s", st.executorCpuTime() / 1e9)
                self.add("spark.gc_s", st.jvmGcTime() / 1e3)
                self.add("exchange.shuffle_write_mb", st.shuffleWriteBytes() / MB)
                self.add("exchange.shuffle_read_mb", st.shuffleReadBytes() / MB)
                self.add("exchange.spill_mb", (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB)
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        self.last_job = newest
        self._collect_sql(count)
        return intervals

    def _collect_sql(self, count: bool) -> None:
        total = self.sqlstore.executionsCount()
        window = self.sqlstore.executionsList(max(0, total - 500), 500)
        newest = self.last_exec
        for i in range(window.length() - 1, -1, -1):
            ex = window.apply(i)
            eid = ex.executionId()
            if eid <= self.last_exec:
                break
            newest = max(newest, eid)
            if not count:
                continue
            names = {m.accumulatorId(): PY_METRICS.get(m.name()) for m in _iter(ex.metrics())}
            if not any(names.values()):
                continue
            for kv in _iter(self.sqlstore.executionMetrics(eid)):
                if names.get(kv._1()):
                    key, scale = names[kv._1()]
                    self.add(key, metric_total(kv._2()) * scale)
        self.last_exec = newest
