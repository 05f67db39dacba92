"""From a finished run to its metrics: the end-to-end line (untraced
passes) and the per-layer line (traced passes)."""

from __future__ import annotations

import subprocess
import time

from perfbench.trace import median, process_tree, tail

MB = 1 << 20

OPERATOR_CALLS = {
    "keyed": ("ever",),
    "time_batch": ("time_batch",),
    "time_window": ("time_window",),
    "length": ("length_window",),
    "replay": ("deduplicate", "length_batch"),
}
STREAMS = ("deduplicate_exact_stream",)
PHASES = {"query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
          "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset",
          "get_batch_ms": "getBatch"}
STAGE_METRICS = {"task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
                 "spill_mb": "MB", "tasks": "count", "driver_share": "share",
                 "max_task_share": "share"}
SELF_LAYERS = ("sources", "operators", "siddhiql", "streaming", "spark")

END_TO_END = {"setup_s": "s", "cold_s": "s", "events_per_s": "events/s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    u = {"memory.peak_rss_mb": "MB", "memory.jvm_peak_mb": "MB", "memory.python_peak_mb": "MB",
         "session.get_spark_s": "s", "session.python_warm_s": "s",
         "sources.load_table_s": "s", "sources.scan_ms": "ms", "sources.read_mb": "MB"}
    for module, calls in OPERATOR_CALLS.items():
        u.update({f"operators.{module}.{c}_s": "s" for c in calls})
        u.update({f"operators.{module}.{k}": v for k, v in STAGE_METRICS.items()})
    u.update({"operators.replay.python_in_mb": "MB", "operators.replay.python_out_mb": "MB"})
    for t in STREAMS:
        u.update({f"streaming.{t}.trigger_p50_ms": "ms", f"streaming.{t}.add_batch_ms": "ms"})
    u.update({"streaming.trigger_p50_ms": "ms", "streaming.trigger_tail_ms": "ms"})
    u.update({f"streaming.{k}": "ms" for k in PHASES})
    u.update({"streaming.coordination_share": "share", "streaming.start_s": "s",
              "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
              "streaming.state_rows": "count", "streaming.state_memory_mb": "MB",
              "streaming.task_s": "s", "streaming.shuffle_write_mb": "MB"})
    u.update({"siddhiql.parse_app_s": "s", "siddhiql.run_app_s": "s",
              "siddhiql.run_app_jobs": "count", "siddhiql.execute_s": "s",
              "siddhiql.task_s": "s", "siddhiql.shuffle_write_mb": "MB",
              "siddhiql.max_task_share": "share"})
    u.update({f"spark.{k}": "count" for k in ("jobs", "stages", "tasks")})
    u.update({"spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
              "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
              "spark.busy_share": "share", "spark.driver_share": "share"})
    u.update({f"{layer}.self_s": "s" for layer in SELF_LAYERS})
    u.update({"trace.events_per_s_traced": "events/s", "trace.events_per_s_untraced": "events/s",
              "trace.overhead_share": "share"})
    return u


def _stage_totals(calls: list[dict], slots: int) -> dict:
    """Sums of status-store readings over ``calls`` of one pass."""
    wall = sum(c.get("wall_s", 0.0) for c in calls)
    task_s = sum(c.get("task_ms", 0) for c in calls) / 1e3
    return {
        "wall_s": wall, "task_s": task_s,
        "cpu_s": sum(c.get("cpu_ns", 0) for c in calls) / 1e9,
        "gc_s": sum(c.get("gc_ms", 0) for c in calls) / 1e3,
        "shuffle_write_mb": sum(c.get("shuffle_write_bytes", 0) for c in calls) / MB,
        "spill_mb": sum(c.get("spill_bytes", 0) for c in calls) / MB,
        "tasks": sum(c.get("tasks", 0) for c in calls),
        "stages": sum(c.get("stages", 0) for c in calls),
        "jobs": sum(c.get("jobs", 0) for c in calls),
        "driver_share": (wall - task_s / slots) / wall if wall else 0.0,
        "max_task_share": max((c.get("max_task_ms", 0) / 1e3 / c["wall_s"]
                               for c in calls if c.get("wall_s")), default=0.0),
    }


def _warm_triggers(passes: list[dict], name: str | None = None) -> list[dict]:
    """Every trigger of the warm passes' queries but each query's first."""
    out = []
    for p in passes:
        for c in p["calls"]:
            if c.get("kind") == "stream" and name in (None, c["name"]):
                out.extend(c["triggers"][1:])
    return out


def _ms(trigs: list[dict], phase: str) -> list[float]:
    return [t["duration_ms"].get(phase, 0) for t in trigs]


def end_to_end(cold: dict, warm: list[dict], setup: dict) -> dict:
    return {
        "setup_s": setup["setup_s"],
        "cold_s": cold["wall_s"],
        "events_per_s": median([p["events_per_s"] for p in warm]),
    }


def trigger_latency(passes: list[dict]) -> dict:
    """Median and tail of warm micro-batch trigger times, with the
    tail's percentile and the sample count."""
    trig = _ms(_warm_triggers(passes), "triggerExecution")
    tail_ms, pct, n = tail(trig)
    return {"trigger_p50_ms": median(trig), "trigger_tail_ms": tail_ms,
            "trigger_tail_percentile": pct, "trigger_samples": n}


def per_layer(run, traced: list[dict], untraced: list[dict], setup: dict, rss) -> dict:
    v: dict[str, float] = {k: 0.0 for k in per_layer_units()}
    slots = run.slots
    v["memory.peak_rss_mb"] = rss.peak / MB
    v["memory.jvm_peak_mb"] = rss.peak_by_command.get("java", 0) / MB
    v["memory.python_peak_mb"] = sum(b for c, b in rss.peak_by_command.items()
                                     if c.startswith("python")) / MB
    v["session.get_spark_s"] = setup["get_spark_s"]
    v["session.python_warm_s"] = setup["python_warm_s"]

    def med(fn):
        return median([fn(p) for p in traced])

    def calls(p, pred):
        return [c for c in p["calls"] if "error" not in c and pred(c)]

    v["sources.load_table_s"] = med(lambda p: sum(c.get("load_s", 0) for c in calls(
        p, lambda c: c["kind"] != "stream")))
    v["sources.scan_ms"] = med(lambda p: sum(c.get("scan_ms", 0) for c in p["calls"]))
    v["sources.read_mb"] = med(lambda p: sum(c.get("read_bytes", 0) for c in p["calls"]) / MB)
    for module, names in OPERATOR_CALLS.items():
        layer = f"operators.{module}"
        if not any(c["layer"] == layer for c in calls(traced[0], lambda c: True)):
            continue
        for name in names:
            v[f"{layer}.{name}_s"] = med(lambda p: sum(
                c["wall_s"] for c in calls(p, lambda c: c["name"] == name)))
        for k in STAGE_METRICS:
            v[f"{layer}.{k}"] = med(lambda p: _stage_totals(
                calls(p, lambda c: c["layer"] == layer), slots)[k])
    replay = lambda p: calls(p, lambda c: c["layer"] == "operators.replay")  # noqa: E731
    v["operators.replay.python_in_mb"] = med(
        lambda p: sum(c.get("python_in_bytes", 0) for c in replay(p)) / MB)
    v["operators.replay.python_out_mb"] = med(
        lambda p: sum(c.get("python_out_bytes", 0) for c in replay(p)) / MB)

    trig = _warm_triggers(traced)
    lat = trigger_latency(traced)
    v["streaming.trigger_p50_ms"] = lat["trigger_p50_ms"]
    v["streaming.trigger_tail_ms"] = lat["trigger_tail_ms"]
    for t in STREAMS:
        mine = _warm_triggers(traced, t)
        v[f"streaming.{t}.trigger_p50_ms"] = median(_ms(mine, "triggerExecution"))
        v[f"streaming.{t}.add_batch_ms"] = median(_ms(mine, "addBatch"))
    for k, phase in PHASES.items():
        v[f"streaming.{k}"] = median(_ms(trig, phase))
    total = sum(_ms(trig, "triggerExecution"))
    if total:
        v["streaming.coordination_share"] = 1.0 - sum(_ms(trig, "addBatch")) / total
    streams = [c for p in traced for c in calls(p, lambda c: c["kind"] == "stream")]
    if streams:
        v["streaming.start_s"] = median([
            c["wall_s"] - sum(_ms(c["triggers"], "triggerExecution")) / 1e3 for c in streams])
        v["streaming.state_commit_ms"] = median([t["state_commit_ms"] for t in trig])
        v["streaming.state_update_ms"] = median([t["state_update_ms"] for t in trig])
        v["streaming.state_rows"] = max(
            (c["triggers"][-1]["state_rows"] for c in streams if c["triggers"]), default=0)
        v["streaming.state_memory_mb"] = max(
            (t["state_memory_bytes"] for c in streams for t in c["triggers"]), default=0) / MB
        for k in ("task_s", "shuffle_write_mb"):
            v[f"streaming.{k}"] = med(lambda p: _stage_totals(
                calls(p, lambda c: c["kind"] == "stream"), slots)[k])
    if any(c["kind"] == "app" for c in calls(traced[0], lambda c: True)):
        apps = lambda p: calls(p, lambda c: c["kind"] == "app")  # noqa: E731
        for k in ("parse_app_s", "run_app_s", "run_app_jobs", "execute_s"):
            v[f"siddhiql.{k}"] = med(lambda p: sum(c[k] for c in apps(p)))
        for k in ("task_s", "shuffle_write_mb", "max_task_share"):
            v[f"siddhiql.{k}"] = med(lambda p: _stage_totals(apps(p), slots)[k])
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
              "spill_mb"):
        v[f"spark.{k}"] = med(lambda p: _stage_totals(calls(p, lambda c: True), slots)[k])
    v["spark.busy_share"] = med(lambda p: _stage_totals(
        calls(p, lambda c: True), slots)["task_s"] / (p["wall_s"] * slots))
    v["spark.driver_share"] = med(lambda p: (p["wall_s"] - _stage_totals(
        calls(p, lambda c: True), slots)["task_s"] / slots) / p["wall_s"])
    selfs = run.tracer.self_times()
    for layer in SELF_LAYERS:
        v[f"{layer}.self_s"] = sum(s for name, s in selfs.items()
                                   if name.split(".")[0] == layer) / len(traced)
    v["trace.events_per_s_traced"] = median([p["events_per_s"] for p in traced])
    v["trace.events_per_s_untraced"] = median([p["events_per_s"] for p in untraced])
    if v["trace.events_per_s_untraced"]:
        v["trace.overhead_share"] = 1.0 - (v["trace.events_per_s_traced"]
                                           / v["trace.events_per_s_untraced"])
    return v


def report(run, cold: dict, setup: dict, host: dict, rss) -> dict:
    warm = run.passes[1:]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    e2e = end_to_end(cold, untraced, setup)
    if run.args.trace:
        values, units = per_layer(run, traced, untraced, setup, rss), per_layer_units()
    else:
        values, units = e2e, END_TO_END
    failed = len(run.failures)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return {
        "workload": run.args.workload, "seed": run.args.seed, "trace": run.args.trace,
        "run_id": run.tracer.run_id, "host": host, "traffic": run.inputs.traffic,
        "fail_ratio": failed / run.attempted if run.attempted else 1.0,
        "failures": run.failures, "end_to_end": e2e, "peak_rss_mb": rss.peak / MB,
        "triggers": trigger_latency(untraced),
        "setup": setup, "passes": run.passes, "self_s": run.tracer.self_times(),
        "spans": run.tracer.spans, "result": result,
    }


def summary(rep: dict) -> str:
    """One human-readable line: every end-to-end metric by name and
    unit, the failure ratio and the host witnesses."""
    e = rep["end_to_end"]
    parts = [f"{k}={e[k]:.4g} {u}" for k, u in END_TO_END.items()]
    h = rep["host"]
    return (f"# {rep['workload']} seed={rep['seed']}: " + ", ".join(parts)
            + f", peak_rss={rep['peak_rss_mb']:.0f} MB"
            + f", fail_ratio={rep['fail_ratio']:.4g} ({len(rep['failures'])}/"
            + f"{rep['result']['attempted']}) | nproc={h['nproc']} "
            + f"load={h['loadavg_before'][0]:.2f}->{h['loadavg_after'][0]:.2f} "
            + f"md5={h['md5_chain_sec']} steal={h['steal_share']} | traffic={rep['traffic']}")


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop any live SparkContext, end the gateway JVM, and wait until
    every process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
