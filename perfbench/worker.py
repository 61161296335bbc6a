"""One benchmark process: set-up, then passes over a workload's queries.

run.py starts this in a fresh process per measurement and reads the
JSON file it writes (``--out``). Set-up is process start ->
``build_session`` -> the first (cold) result of ``SETUP_QUERY``. A pass
runs every query of the workload once, in an order drawn from the seed;
passes repeat until ``--seconds`` have passed. Every execution rebuilds
its DataFrame and runs the action (``toPandas``), so no shuffle files or
results are reused; its result is checked against expected.json outside
the timed interval.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

import layers
import workloads as wl

ROOT = os.path.dirname(wl.HERE)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Checker:
    """Compares results with the stored expected digests."""

    def __init__(self):
        self._expected = wl.load_expected()["results"]

    def check(self, sf: str, query: str, pdf) -> str | None:
        """None when the result matches, else a one-line reason."""
        want = self._expected.get(f"{sf}/{query}")
        if want is None:
            return "no expected result stored"
        got = wl.result_digest(pdf)
        if (got["rows"], got["sha256"]) != (want["rows"], want["sha256"]):
            return (f"result differs from {want['source']}: "
                    f"{got['rows']} rows vs {want['rows']}")
        return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--spawn", type=float, required=True,
                    help="time.monotonic() when run.py started this process")
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-log", help="event log dir; enables tracing")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from integrator_spark.registry import get_queries
    from integrator_spark.session import build_session

    w = wl.SELF_TEST if args.workload == "self_test" else \
        wl.WORKLOADS[args.workload]
    fns = get_queries()
    checker = Checker()
    out: dict = {"errors": []}

    t_build = time.monotonic()
    spark = build_session(f"perfbench-{args.workload}")
    t_cold = time.monotonic()
    cold = fns[wl.SETUP_QUERY](spark, wl.sf_dir(w.sf)).toPandas()
    t_ready = time.monotonic()
    out.update(setup_s=t_ready - args.spawn, build_s=t_cold - t_build,
               warmup_s=t_ready - t_cold)
    bad = checker.check(w.sf, wl.SETUP_QUERY, cold)
    out["attempted"], out["failed"] = 1, int(bad is not None)
    if bad:
        out["errors"].append(f"{wl.SETUP_QUERY} (set-up): {bad}")

    tracer = None
    if args.event_log:
        tracer = layers.Tracer(spark)
        tracer.install()

    rng = random.Random(args.seed)
    executions: list[dict] = []
    passes: list[float] = []
    t_loop = time.monotonic()
    while True:
        order = list(w.queries)
        rng.shuffle(order)
        t_pass = time.monotonic()
        executions += [execute(spark, fns[name], name, w.sf, checker, tracer)
                       for name in order]
        passes.append(time.monotonic() - t_pass)
        if time.monotonic() - t_loop >= args.seconds:
            break
    out["attempted"] += len(executions)
    out["failed"] += sum(1 for e in executions if e["error"])
    out["errors"] += [f"{e['query']}: {e['error']}" for e in executions
                      if e["error"]]
    out["passes"] = passes

    jvm = spark._jvm.java.lang
    out.update(
        py_peak_rss_mb=vm_hwm_mb("self"),
        jvm_peak_rss_mb=vm_hwm_mb(jvm.ProcessHandle.current().pid()),
        java=jvm.System.getProperty("java.version"),
        cores=spark.sparkContext.defaultParallelism,
    )
    spark.stop()

    if tracer is not None:
        out["layers"], out["checks"] = layer_metrics(executions,
                                                     args.event_log, out)
    out["executions"] = [{k: e[k] for k in ("query", "wall_s", "error")}
                         for e in executions]
    with open(args.out, "w") as fh:
        json.dump(out, fh)


def execute(spark, fn, name: str, sf: str, checker: Checker,
            tracer) -> dict:
    """Run one query: build (the query-function call), then the action."""
    rec: dict = {"query": name, "error": None}
    if tracer is not None:
        rec["trace"] = tracer.start_execution()
        j0 = tracer.next_job_id()
    e0 = time.time()
    t0 = time.perf_counter()
    try:
        df = fn(spark, wl.sf_dir(sf))
        t1 = time.perf_counter()
        if tracer is not None:
            j1 = tracer.next_job_id()
        t1b = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
    except Exception as exc:  # a failed query is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        rec.update(wall_s=time.perf_counter() - t0,
                   error=f"raised {type(exc).__name__}: "
                         f"{str(exc).splitlines()[0] if str(exc) else ''}")
        return rec
    e2 = time.time()
    rec.update(wall_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1b)
    rec["error"] = checker.check(sf, name, pdf)
    if tracer is not None:
        rec["jobs"] = (j0, j1, tracer.next_job_id())
        rec["epoch_ms"] = (e0 * 1000.0, e2 * 1000.0)
        rec["plan"] = layers.plan_phases(df)
    return rec


def layer_metrics(executions: list[dict], log_dir: str,
                  out: dict) -> tuple[dict, list]:
    """Per-layer metrics, as means per execution, plus the per-execution
    decomposition the self-test checks."""
    jobs, stages = layers.read_event_log(log_dir)
    done = [e for e in executions if "jobs" in e]
    n = max(len(done), 1)
    acc: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        acc[key] = acc.get(key, 0.0) + value

    checks = []
    wall_total = action_total = gap_total = run_total = 0.0
    for e in done:
        tr = e["trace"]
        j0, j1, j2 = e["jobs"]
        for key in ("load_table.calls", "load_table.s", "load_table.jobs",
                    "register_views.calls", "register_views.s"):
            add(f"io.{key}", tr["io"].get(key, 0.0))
        st = tr["streaming"]
        build_self = e["build_s"] - tr["io_outer_s"] - st["s"]
        add("queries.build_self_s", build_self)
        add("queries.build_jobs", j1 - j0)
        for phase, ms in e["plan"].items():
            add(f"plan.{phase}_ms", ms)
        ex = layers.job_totals(jobs, stages, j1, j2)
        add("exec.action_s", e["action_s"])
        add("exec.jobs", j2 - j1)
        add("exec.stages", ex["stages"])
        add("exec.tasks", ex["tasks"])
        add("exec.failed_tasks", ex["failed_tasks"])
        add("exec.task_run_s", ex["run_ms"] / 1e3)
        add("exec.task_cpu_s", ex["cpu_ns"] / 1e9)
        add("exec.gc_s", ex["gc_ms"] / 1e3)
        add("exec.shuffle_bytes", ex["shuffle_bytes"])
        add("exec.spill_bytes", ex["spill_bytes"])
        gap = e["wall_s"] - layers.job_union_ms(jobs, j0, j2,
                                                *e["epoch_ms"]) / 1e3
        add("driver.gap_s", gap)
        ss = layers.stream_summary(st)
        add("streaming.run.calls", st["calls"])
        add("streaming.run.s", st["s"])
        add("streaming.bytes_written", st["bytes_written"])
        for key, value in ss.items():
            add(f"streaming.{key}", value)
        wall_total += e["wall_s"]
        action_total += e["action_s"]
        gap_total += gap
        run_total += ex["run_ms"] / 1e3
        checks.append({
            "query": e["query"], "wall_s": e["wall_s"],
            "build_s": e["build_s"], "action_s": e["action_s"],
            "io_outer_s": tr["io_outer_s"], "streaming_s": st["s"],
            "load_table_calls": tr["io"].get("load_table.calls", 0),
            "jobs": j2 - j0, "batches": ss["batches"],
        })
    metrics = {k: v / n for k, v in acc.items()}
    metrics["exec.core_busy_frac"] = (
        run_total / (action_total * out["cores"]) if action_total else 0.0)
    metrics["driver.gap_frac"] = gap_total / wall_total if wall_total else 0.0
    metrics["session.build_s"] = out["build_s"]
    metrics["session.warmup_s"] = out["warmup_s"]
    return metrics, checks


if __name__ == "__main__":
    main()
