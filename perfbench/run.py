"""Repository benchmark: seeded workloads over the uniqueness operators.

Run from the repository root::

    python3 perfbench/run.py --workload keyed_wide --seed 1 --seconds 15 --trace 0

It starts a ``local[nproc]`` session through the package's
``get_spark``, generates the workload's events from ``--seed``,
computes every call's expected result (outside any timed window), runs
one cold pass and then at least three warm passes of the workload's
calls, more while ``--seconds`` lasts (closed loop: each call starts
when the previous one has returned its rows), checks every call's
result, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. The full report, with the host
witnesses and the input traffic, goes to ``.perfbench_out/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T0 = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.dirname(HERE)]

# The first warm pass still runs slower than the later ones (JIT tiers,
# Python worker caches); with three, the median is a settled pass.
WARM_PASSES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_package() -> None:
    """Fail before any work when the checkout lacks the package."""
    import importlib.util

    missing = [m for m in ("siddhi_execution_unique_spark", "__spark_entry__", "bench")
               if importlib.util.find_spec(m) is None]
    if missing:
        sys.stderr.write(f"perfbench: {missing} not importable from {ROOT}\n")
        sys.exit(2)


def _warm_python(spark) -> None:
    """Start the Python worker pool: one task per slot, each importing
    the package's pandas-UDF dependencies."""

    def touch(batches):
        import siddhi_execution_unique_spark.operators  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(touch, "id long").write.format("noop") \
        .mode("overwrite").save()


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch files (and its perf-data file, which
        # ignores java.io.tmpdir) out of the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time in between that the hypervisor gave
    to other guests (steal, the eighth counter): a witness of contention
    that the load average and the calibration miss."""
    d = [a - b for a, b in zip(after, before)]
    return round(d[7] / sum(d[:8]), 4) if sum(d[:8]) else 0.0


def start_session(work: str):
    """The session a user would start: ``get_spark`` (JVM launch
    included) and a warm Python worker pool. ``setup_s`` runs from
    process start, so it includes the interpreter's imports."""
    from siddhi_execution_unique_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warm_python(spark)
    t2 = time.perf_counter()
    return spark, {"import_s": t0 - T0, "get_spark_s": t1 - t0, "python_warm_s": t2 - t1,
                   "setup_s": t2 - T0}


class Run:
    def __init__(self, args, work: str, spark):
        from perfbench import trace, workloads

        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.work = work
        self.tracer = trace.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.failures: list[dict] = []
        self.attempted = 0
        self.passes: list[dict] = []
        self.spark = spark
        self.status = trace.SparkStatus(spark)
        self.slots = spark.sparkContext.defaultParallelism
        self.inputs = None        # workloads.Inputs
        self.expected = {}        # call name -> expected rows

    # -- one call ----------------------------------------------------
    def _group(self, label: str) -> str:
        return f"{self.tracer.run_id}:{label}:{len(self.passes)}"

    def _tag(self, group: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)
            self.status.mark()

    def _readings(self, group: str) -> dict:
        if not self.tracer.enabled:
            return {}
        return {**self.status.jobs(group), **self.status.sql_metrics()}

    def _load(self):
        from siddhi_execution_unique_spark.sources import load_table

        with self.tracer.span("sources:load_table") as sp:
            ev = load_table(self.spark, self.inputs.sf_dir, "events")
        return ev, sp

    def batch_call(self, name: str) -> dict:
        from perfbench import workloads

        module = workloads.BATCH_MODULE[name]
        group = self._group(name)
        t0 = time.perf_counter()
        with self.tracer.span(f"operators.{module}:{name}"):
            self._tag(group)
            ev, load = self._load()
            with self.tracer.span(f"operators.{module}:plan"):
                df = workloads.build_batch(name, ev)
            with self.tracer.span("spark:collect"):
                table = df.toArrow()
        wall = time.perf_counter() - t0
        rec = {"kind": "batch", "name": name, "layer": f"operators.{module}", "wall_s": wall,
               "load_s": (load["end"] - load["start"]) if load else 0.0}
        rec.update(self._readings(group))
        return rec, table

    def app_call(self, name: str) -> dict:
        from siddhi_execution_unique_spark import siddhiql

        from perfbench import workloads

        text, _, out = workloads.APPS[name]
        group = self._group(name)
        t0 = time.perf_counter()
        with self.tracer.span(f"siddhiql:{name}"):
            self._tag(group)
            ev, load = self._load()
            streams = {"events": ev}
            tp = time.perf_counter()
            with self.tracer.span("siddhiql:parse_app"):
                siddhiql.parse_app(text)
            tr = time.perf_counter()
            with self.tracer.span("siddhiql:run_app"):
                df = siddhiql.run_app(text, streams, tiebreak="event_id")[out]
            te = time.perf_counter()
            build = self._readings(group)
            if self.tracer.enabled:
                group += ":execute"
                self._tag(group)
            with self.tracer.span("spark:collect"):
                table = df.toArrow()
        end = time.perf_counter()
        rec = {"kind": "app", "name": name, "layer": "siddhiql", "wall_s": end - t0,
               "load_s": (load["end"] - load["start"]) if load else 0.0,
               "parse_app_s": tr - tp, "run_app_s": te - tr, "execute_s": end - te,
               "run_app_jobs": build.get("jobs", 0)}
        if self.tracer.enabled:
            ex = self._readings(group)
            for k, v in ex.items():
                rec[k] = max(v, build.get(k, 0)) if k == "max_task_ms" else v + build.get(k, 0)
        return rec, table

    def stream_call(self, name: str) -> dict:
        from siddhi_execution_unique_spark.streaming.sources import stream_table

        from perfbench import workloads

        qname = f"pb_{name}_{len(self.passes)}"
        ckpt = os.path.join(self.work, "ckpt", qname)
        t0 = time.perf_counter()
        with self.tracer.span(f"streaming:{name}"):
            if self.tracer.enabled:
                self.status.mark()
            with self.tracer.span("sources:stream_table") as load:
                sdf = stream_table(self.spark, self.inputs.stream_dir, workloads.stream_schema())
            out = workloads.build_stream(name, sdf)
            with self.tracer.span("streaming:drain"):
                q = (out.writeStream.format("memory").queryName(qname)
                     .outputMode("append")
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
            with self.tracer.span("spark:collect"):
                table = self.spark.table(qname).toArrow()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        self.spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
        rec = {"kind": "stream", "name": name, "layer": "streaming", "wall_s": wall,
               "load_s": (load["end"] - load["start"]) if load else 0.0,
               "triggers": [_progress(p) for p in progress]}
        if self.tracer.enabled:
            rec.update(self.status.jobs(str(q.runId)))
            rec.update(self.status.sql_metrics())
        return rec, table

    # -- passes ------------------------------------------------------
    def one_pass(self, traced: bool) -> dict:
        from perfbench import check

        self.tracer.enabled = traced
        calls = ([(self.batch_call, n) for n in self.wl.batch]
                 + [(self.app_call, n) for n in self.wl.apps]
                 + [(self.stream_call, n) for n in self.wl.streams])
        recs, results = [], []
        t0 = time.perf_counter()
        with self.tracer.span(f"pass:{len(self.passes)}"):
            for fn, name in calls:
                try:
                    rec, table = fn(name)
                except Exception:  # a failed call counts; the pass goes on
                    rec, table = {"name": name, "error": traceback.format_exc(limit=3)}, None
                recs.append(rec)
                results.append((name, table))
        wall = time.perf_counter() - t0
        self.tracer.enabled = False
        # the correctness gate, outside the timed window
        for (name, table), rec in zip(results, recs):
            self.attempted += 1
            why = rec.get("error") or check.same_rows(table, self.expected[name])
            if why:
                rec["failed"] = why
                self.failures.append({"pass": len(self.passes), "call": name, "why": why})
        events = self.inputs.table.num_rows * (len(self.wl.batch) + len(self.wl.apps))
        if self.wl.streams:
            events += self.inputs.stream_table.num_rows * len(self.wl.streams)
        p = {"index": len(self.passes), "traced": traced, "wall_s": wall,
             "events": events, "events_per_s": events / wall, "calls": recs}
        self.passes.append(p)
        return p


def _progress(p) -> dict:
    d = dict(p.durationMs)
    ops = p.stateOperators or []
    return {
        "batch": p.batchId, "rows": p.numInputRows, "duration_ms": d,
        "state_commit_ms": sum(o.commitTimeMs for o in ops),
        "state_update_ms": sum(o.allUpdatesTimeMs for o in ops),
        "state_rows": sum(o.numRowsTotal for o in ops),
        "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
    }


def run(args) -> tuple[dict, dict]:
    """One benchmark run: returns ``(result line, full report)``."""
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({"SPARK_GRAFT_CPUS": str(nproc), "TMPDIR": os.path.join(work, "tmp"),
                       "PYTHONPATH": os.pathsep.join(
                           [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])})
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    phases: dict[str, float] = {}

    def phase(name):
        phases[name] = time.perf_counter() - T0

    host = {"nproc": nproc, "loadavg_before": list(os.getloadavg()), "phases_s": phases}
    cpu_before = cpu_times()
    try:
        spark, setup = start_session(work)
        phase("set_up")
        from bench import calibrate

        import __spark_entry__
        from perfbench import metrics, trace

        host["md5_chain_sec"] = calibrate()
        phase("calibrated")
        r = Run(args, work, spark)
        with trace.RssSampler() as rss:
            r.inputs = workloads.make_inputs(r.wl, args.seed, work)
            phase("generated")
            r.expected = workloads.expectations(r.wl, r.inputs, __spark_entry__.oracle_sql())
            phase("expected")
            cold = r.one_pass(traced=False)
            phase("cold_pass")
            # at least WARM_PASSES warm passes, more while --seconds lasts;
            # a traced run alternates untraced and traced passes
            deadline = time.perf_counter() + args.seconds
            while True:
                n_warm = len(r.passes) - 1
                r.one_pass(traced=bool(args.trace) and n_warm % 2 == 1)
                typical = metrics.median([p["wall_s"] for p in r.passes[1:]])
                if n_warm + 1 >= WARM_PASSES and time.perf_counter() + typical > deadline:
                    break
            phase("warm_passes")
            spark.stop()
        host["loadavg_after"] = list(os.getloadavg())
        host["steal_share"] = steal_share(cpu_before, cpu_times())
    finally:
        from perfbench.metrics import shutdown_jvm

        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    phase("stopped")
    report = metrics.report(r, cold, setup, host, rss)
    return report["result"], report


def main(argv=None) -> int:
    args = parse_args(argv)
    require_package()
    from perfbench import metrics

    result, report = run(args)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({k: v for k, v in report.items() if k != "spans"}, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out_dir, stem + ".spans.json"), "w") as f:
            json.dump(report["spans"], f)
    print(metrics.summary(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
