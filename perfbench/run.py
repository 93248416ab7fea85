#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sql_sf0.1 --seed 1 --seconds 8 --trace 0

Run it from the repository root. One Python process is the Spark driver,
on ``local[N]`` with ``SPARK_GRAFT_CPUS=N`` and N the CPUs this process
may use. The workload's inputs are generated from ``--seed`` after the
session is up. Its operations then run one after another in passes: the
first pass is the cold pass, the workload's warm-up passes follow, and
measured warm passes run until ``--seconds`` of them have run and there
are at least as many as the workload asks for (one or more). The
outputs of the last pass are then checked against figures computed
apart from the engine, and each check is shown to reject a deliberately
wrong output.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes with tracing on and prints the per-layer metrics instead, and
writes the spans to ``perfbench/.work/traces/``. Everything the run
writes stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

HEAP = "1g"
MB = 1e6

# per-layer metrics that come from layers rather than operations
LAYER_METRICS = [
    "session.start_s", "registry.import_s",
    "tables.load_calls", "tables.load_s",
    "plan.build_s", "plan.optimize_s", "plan.exchanges", "plan.python_nodes",
    "spark.jobs", "spark.stages", "spark.tasks", "driver.gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "exchange.shuffle_write_mb", "exchange.shuffle_read_mb", "exchange.spill_mb",
    "pyworker.boot_s", "pyworker.run_s", "pyworker.sent_mb", "pyworker.returned_mb",
    "proc.driver_cpu_s", "proc.jvm_cpu_s", "proc.pyworker_cpu_s",
    *[f"lakehouse.{c}.s" for c in ("create_table", "merge_into", "append_table",
                                   "delete_keys_mor", "read_changes", "read_snapshot",
                                   "compact_table", "vacuum_table")],
    "lakehouse.commits", "lakehouse.jobs_per_commit", "lakehouse.read_snapshot_jobs",
    "lakehouse.bytes_written_mb", "lakehouse.live_files", "lakehouse.stored_mb",
    "streaming.batches", "streaming.add_batch_s", "streaming.input_rows",
]
# the tracer counter behind a per-layer metric, where the names differ
COUNTER = {
    "tables.load_calls": "tables.load.calls",
    "tables.load_s": "tables.load.s",
    "lakehouse.read_snapshot_jobs": "lakehouse.read_snapshot.jobs",
}


def per_layer_names() -> list[str]:
    ops = []
    for w in WORKLOADS.values():
        ops += [f"op.{name}.s" for name in w.op_names()]
    return LAYER_METRICS + ops


def unit(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    return "MB" if metric.endswith("_mb") else "count"


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` inside [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Runner:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        # pass 0 is the cold pass; the workload's warm-up passes follow,
        # then the measured ones
        self.first = 1 + self.wl.warmups
        self.pid = os.getpid()
        self.run_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{self.pid}")
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = None
        self.attempted = self.failed = 0

    def environment(self) -> dict:
        """Keep every file Spark, the JVM and the program write under
        the run directory, and pin the core count."""
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # With the program's default 8 GB driver heap, G1 sizes the heap
        # by GC timing: the JVM's resident memory after the same work
        # ranged from 1.3 to 2.5 GB between runs. At 1 GB it ranged from
        # 0.8 to 1.1 GB, pass times were unchanged, and the run stays small.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        # also reaches the short-lived launcher JVM that spark-submit
        # starts first, which would otherwise write /tmp/hsperfdata_*
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        import tempfile

        tempfile.tempdir = None
        return {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }

    def start(self) -> None:
        conf = self.environment()
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        from apache_spark_irs_form_990_spark import registry
        from apache_spark_irs_form_990_spark.session import get_session

        registry.queries()
        t1 = time.perf_counter()
        self.spark = get_session(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        t2 = time.perf_counter()
        self.setup_s = procfs.process_age_s(self.pid)
        self.registry_import_s, self.session_start_s = t1 - t0, t2 - t1

    def run_op(self, ctx: Ctx, name: str, fn, timings: dict, outputs: dict) -> None:
        from pyspark.sql import DataFrame

        tr = self.tracer
        self.attempted += 1
        if tr:
            self.spark.sparkContext.setJobGroup(name, name)
            tr.op_span = tr.span(name, time.time(), 0.0, ctx.state["pass_span"])
        t0 = time.perf_counter()
        try:
            out = fn(ctx)
            if isinstance(out, DataFrame):
                if tr:
                    t_built = time.perf_counter()
                    plan = out._jdf.queryExecution().executedPlan().toString()
                    tr.add("plan.build_s", t_built - t0)
                    tr.add("plan.optimize_s", time.perf_counter() - t_built)
                    exchanges, python = tracing.plan_counts(plan)
                    tr.add("plan.exchanges", exchanges)
                    tr.add("plan.python_nodes", python)
                outputs[name] = out.toPandas()
        except Exception:  # noqa: BLE001 - one failed operation must not end the run
            self.failed += 1
            outputs.pop(name, None)
            print(f"operation {name} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        timings.setdefault(name, []).append(time.perf_counter() - t0)
        if tr:
            tr.spans[tr.op_span]["end"] = time.time()
            ctx.state["stages"] += tr.collect_spark()
            tr.op_span = None

    def passes(self, ctx: Ctx, ops) -> dict:
        walls, cpus, timings, outputs, extras = [], [], {}, {}, []
        peak = procfs.PeakRss(self.pid)
        tr = self.tracer
        measure_start = None
        p = 0
        while True:
            ctx.pass_id = p
            os.makedirs(ctx.pass_dir)
            ctx.state["stages"] = []
            if tr:
                tr.pass_id = p
                ctx.state["pass_span"] = tr.span(f"pass{p}", time.time(), 0.0, None)
            cpu0 = procfs.cpu_by_role(self.pid)
            w0, t0 = time.time(), time.perf_counter()
            for name, fn in ops:
                self.run_op(ctx, name, fn, timings, outputs)
            walls.append(time.perf_counter() - t0)
            w1 = time.time()
            cpu1 = procfs.cpu_by_role(self.pid)
            cpus.append(sum(cpu1.values()) - sum(cpu0.values()))
            if tr:
                tr.spans[ctx.state["pass_span"]]["end"] = w1
                tr.add("driver.gap_s", (w1 - w0) - covered(ctx.state["stages"], w0, w1))
                for role in cpu1:
                    tr.add(f"proc.{role}_cpu_s", cpu1[role] - cpu0[role])
            extra = self.wl.end_pass(ctx)
            extras.append(extra)
            if tr and extra:
                tr.add("lakehouse.stored_mb", extra["stored_bytes"] / MB)
                tr.add("lakehouse.live_files", extra["live_files"])
            if p <= self.first:  # a fixed amount of work, however long the run
                peak.sample()
            p += 1
            if p == self.first:
                measure_start = time.perf_counter()
            elif (p - self.first >= self.wl.measured
                  and time.perf_counter() - measure_start >= self.args.seconds):
                break
        print("peak rss by role (MB): " + ", ".join(f"{r} {mb:.0f}" for r, mb in peak.by_role().items()),
              file=sys.stderr)
        return {"walls": walls, "cpus": cpus, "timings": timings, "outputs": outputs,
                "extras": extras, "peak_rss_mb": peak.total_mb()}

    def end_to_end(self, res: dict) -> dict:
        m = {
            "setup_s": (self.setup_s, "s"),
            "cold_pass_s": (res["walls"][0], "s"),
            "pass_s": (statistics.median(res["walls"][self.first:]), "s"),
            "cpu_s": (statistics.median(res["cpus"][self.first:]), "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def per_layer(self, res: dict) -> dict:
        tr = self.tracer
        n = len(res["walls"])

        def warm(key: str) -> float:
            return statistics.median(tr.counts[p].get(key, 0.0) for p in range(self.first, n))

        vals = {name: 0.0 for name in per_layer_names()}
        for metric in LAYER_METRICS:
            vals[metric] = warm(COUNTER.get(metric, metric))
        vals["session.start_s"] = self.session_start_s
        vals["registry.import_s"] = self.registry_import_s
        cold = tr.counts[0]
        vals["pyworker.boot_s"] = cold.get("pyworker.boot_s", 0.0) + cold.get("pyworker.init_s", 0.0)
        commits = warm("lakehouse.commits")
        vals["lakehouse.jobs_per_commit"] = warm("lakehouse.commit_jobs") / commits if commits else 0.0
        for name, ts in res["timings"].items():
            vals[f"op.{name}.s"] = statistics.median(ts[self.first:])
        return {k: {"value": v, "unit": unit(k)} for k, v in vals.items()}

    def main(self) -> int:
        try:
            self.start()
            ctx = Ctx(self.spark, self.wl.generate(os.path.join(self.run_dir, "inputs"), self.args.seed),
                      self.run_dir)
            ops = self.wl.ops()
            if self.args.trace:
                self.tracer = tracing.Tracer(self.spark)
                self.tracer.wrap_modules()
            res = self.passes(ctx, ops)
            print("pass walls (s): " + " ".join(f"{w:.3f}" for w in res["walls"])
                  + "; pass cpu (s): " + " ".join(f"{c:.2f}" for c in res["cpus"]), file=sys.stderr)
            print("operation walls (s), cold / last: " + ", ".join(
                f"{n} {ts[0]:.2f}/{ts[-1]:.2f}" for n, ts in res["timings"].items()), file=sys.stderr)
            if self.tracer:
                self.tracer.pass_id = -1  # the checks' own calls count in no pass
            problems, proofs = self.wl.check(ctx, res["outputs"])
            for line in problems + proofs:
                print(f"CHECK: {line}", file=sys.stderr)
            if self.args.trace:
                traces = os.path.join(HERE, ".work", "traces")
                os.makedirs(traces, exist_ok=True)
                self.tracer.dump(os.path.join(traces, f"{self.args.workload}-seed{self.args.seed}.json"))
                metrics = self.per_layer(res)
            else:
                metrics = self.end_to_end(res)
                if res["extras"][-1]:
                    print(f"stored_mb: {res['extras'][-1]['stored_bytes'] / MB:.4f} MB")
            result = {"correct": not problems and not proofs, "attempted": self.attempted,
                      "failed": self.failed, "metrics": metrics}
        finally:
            self.stop()
        print(json.dumps(result))
        return 0

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for it, then remove the run
        directory (traces are kept)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return Runner(ap.parse_args()).main()


if __name__ == "__main__":
    sys.exit(main())
