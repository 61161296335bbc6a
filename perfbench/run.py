"""Run one benchmark workload and print its metrics.

From the repository root:

    python3 perfbench/run.py --workload interactive_sql --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

With ``--trace 0`` the last line of standard output holds the
end-to-end metrics, measured in untraced processes; with ``--trace 1``
it holds the per-layer metrics of a traced process (Spark event log on,
layer entry points wrapped) and the tracing overhead against an
untraced process. The line before it holds the provenance, per-query
medians and every failed check. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads as wl  # noqa: E402

#: Scratch for one run (Spark local dirs, temp files, event logs,
#: worker output); emptied before and after every run.
SCRATCH = os.path.join(ROOT, ".perfbench")
#: Where the program writes derived files (integrator_spark.io.derived_dir).
DERIVED = os.path.join(ROOT, "_derived")
#: Every process of a run must end within --seconds plus this many
#: seconds (170 s in all at the gated --seconds 10).
RUN_OVERHEAD_S = 160.0

class BenchError(Exception):
    """The run cannot produce a result; run.py exits non-zero."""


def gated_units() -> tuple[dict, dict]:
    """Units of the end-to-end and per-layer metrics BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[key]}
                 for key in ("end_to_end", "per_layer"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def check_inputs(w: wl.Workload) -> None:
    if not os.path.isfile(os.path.join(ROOT, "integrator_spark",
                                       "__init__.py")):
        raise BenchError(f"no integrator_spark package under {ROOT}")
    if not os.path.isdir(wl.sf_dir(w.sf)):
        raise BenchError(f"fixture directory {wl.sf_dir(w.sf)} is missing")
    stored = wl.load_expected()["provenance"]["fixtures"].get(w.sf)
    if stored != wl.fixture_digest(w.sf):
        raise BenchError(f"fixtures under {wl.sf_dir(w.sf)} differ from "
                         "those expected.json was computed from")


def clean(w: wl.Workload) -> None:
    """Remove the run's scratch and what the queries leave under
    _derived/ (staged sources, checkpoints, state, sinks), so runs do
    not accumulate disk or start from another run's state."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    shutil.rmtree(os.path.join(DERIVED, w.sf), ignore_errors=True)


class Runner:
    """Starts worker processes and waits for every process they start."""

    def __init__(self, deadline: float):
        self.deadline = deadline
        self.n = 0
        # Orphaned descendants (the Spark JVM, Python workers) are
        # re-parented to this process, so it can wait for all of them.
        libc = ctypes.CDLL(None, use_errno=True)
        pr_set_child_subreaper = 36
        if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
            raise BenchError("prctl(PR_SET_CHILD_SUBREAPER) failed")

    def worker(self, workload: str, seed: int, seconds: float, *,
               traced: bool = False) -> dict:
        self.n += 1
        run_dir = os.path.join(SCRATCH, f"w{self.n}")
        dirs = {k: os.path.join(run_dir, k)
                for k in ("tmp", "local", "cwd", "events")}
        for d in dirs.values():
            os.makedirs(d)
        submit = [f"--driver-java-options -Djava.io.tmpdir={dirs['tmp']}"]
        if traced:
            submit += ["--conf spark.eventLog.enabled=true",
                       f"--conf spark.eventLog.dir=file://{dirs['events']}",
                       "--conf spark.eventLog.compress=false",
                       "--conf spark.eventLog.rolling.enabled=false"]
        env = dict(os.environ,
                   SPARK_GRAFT_CPUS=str(cores()),
                   SPARK_LOCAL_DIRS=dirs["local"],
                   TMPDIR=dirs["tmp"],
                   PYTHONPATH=os.pathsep.join(
                       p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
                   PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]))
        out = os.path.join(run_dir, "result.json")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--out", out]
        if traced:
            cmd += ["--event-log", dirs["events"]]
        log_path = os.path.join(run_dir, "worker.log")
        with open(log_path, "w") as log:
            cmd += ["--spawn", repr(time.monotonic())]
            proc = subprocess.Popen(cmd, cwd=dirs["cwd"], env=env,
                                    stdin=subprocess.DEVNULL, stdout=log,
                                    stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(self.deadline - time.monotonic(), 1))
            except subprocess.TimeoutExpired:
                proc.kill()
            finally:
                self.reap()
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                tail = fh.read()[-4000:]
            raise BenchError(f"worker exited with {proc.returncode}:\n{tail}")
        with open(out) as fh:
            return json.load(fh)

    def reap(self) -> None:
        """Wait until no child process is left; kill stragglers after
        15 s."""
        limit = time.monotonic() + 15
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return
            if time.monotonic() > limit:
                for pid in children():
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)


def children() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def provenance(args, results: list[dict]) -> dict:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "integrator_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as fh:
                    h.update(fn.encode() + fh.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None  # the checkout is not a git repository
    import pyspark
    return {"seed": args.seed, "nproc": cores(), "commit": commit,
            "source_sha256": h.hexdigest(), "pyspark": pyspark.__version__,
            "java": results[0]["java"], "python": sys.version.split()[0],
            "expected_commit": wl.load_expected()["provenance"]["commit"]}


def summarize(results: list[dict]) -> dict:
    execs = [e for r in results for e in r.get("executions", [])]
    per_query: dict[str, list[float]] = {}
    for e in execs:
        per_query.setdefault(e["query"], []).append(e["wall_s"] * 1e3)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    return {
        "attempted": attempted, "failed": failed,
        "executions": len(execs),
        "passes_s": [p for r in results for p in r.get("passes", [])],
        "per_query_median_ms": {q: statistics.median(v)
                                for q, v in sorted(per_query.items())},
        "errors": [e for r in results for e in r["errors"]],
    }


def end_to_end(main: dict, failed: int, attempted: int) -> dict:
    """Every end-to-end metric of an untraced run, with its unit."""
    lat = [e["wall_s"] * 1e3 for e in main["executions"]]
    metrics = {
        "setup_s": (main["setup_s"], "s"),
        "wall_s": (statistics.median(main["passes"]), "s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "error_rate": (failed / attempted, "ratio"),
        "py_peak_rss_mb": (main["py_peak_rss_mb"], "MB"),
        "jvm_peak_rss_mb": (main["jvm_peak_rss_mb"], "MB"),
    }
    # A percentile is reported only with at least ten samples beyond it.
    if len(lat) >= 100:
        metrics["latency_p90_ms"] = (statistics.quantiles(lat, n=10)[-1],
                                     "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def run(args) -> tuple[dict, dict]:
    w = wl.WORKLOADS[args.workload]
    check_inputs(w)
    e2e_units, layer_units = gated_units()
    runner = Runner(time.monotonic() + args.seconds + RUN_OVERHEAD_S)
    clean(w)
    try:
        main = runner.worker(args.workload, args.seed, args.seconds)
        results = [main]
        if args.trace:
            clean(w)
            traced = runner.worker(args.workload, args.seed, args.seconds,
                                   traced=True)
            results.append(traced)
            values = dict(traced["layers"])
            values["trace.overhead_frac"] = (
                statistics.median(traced["passes"])
                / statistics.median(main["passes"]) - 1.0)
            # A layer no execution reached (all failed) reads 0.
            metrics = {k: {"value": values.get(k, 0.0), "unit": u}
                       for k, u in layer_units.items()}
    finally:
        clean(w)
    detail = {"workload": args.workload, "seconds": args.seconds,
              "trace": args.trace,
              "setup_samples_s": [r["setup_s"] for r in results],
              "provenance": provenance(args, results),
              **summarize(results)}
    if not args.trace:
        detail["metrics"] = end_to_end(main, detail["failed"],
                                       detail["attempted"])
        metrics = {k: detail["metrics"][k] for k in e2e_units}
    result = {"correct": detail["failed"] == 0,
              "attempted": detail["attempted"], "failed": detail["failed"],
              "metrics": metrics}
    return detail, result


def self_test() -> list[str]:
    """Traced sf0.001 run of SELF_TEST; returns the failed checks."""
    w = wl.SELF_TEST
    check_inputs(w)
    runner = Runner(time.monotonic() + RUN_OVERHEAD_S)
    clean(w)
    try:
        res = runner.worker("self_test", 1, 0, traced=True)
    finally:
        clean(w)
    problems = list(res["errors"])
    by_query = {c["query"]: c for c in res["checks"]}
    q1, st = by_query["q1_pricing_summary"], by_query["stream_tumbling"]
    if q1["load_table_calls"] != 1:
        problems.append(f"q1_pricing_summary: {q1['load_table_calls']} "
                        "load_table calls seen, expected 1")
    if q1["jobs"] < 1:
        problems.append("q1_pricing_summary: no Spark job seen")
    if st["batches"] < 1:
        problems.append("stream_tumbling: no micro-batch seen")
    for c in res["checks"]:
        parts = c["build_s"] + c["action_s"]
        if abs(parts - c["wall_s"]) > 0.1 * c["wall_s"]:
            problems.append(f"{c['query']}: build + action = {parts:.3f} s "
                            f"vs wall {c['wall_s']:.3f} s")
        if c["io_outer_s"] + c["streaming_s"] > 1.01 * c["build_s"]:
            problems.append(f"{c['query']}: io + streaming spans exceed the "
                            "query-function call")
    print(json.dumps({"self_test": res["checks"], "layers": res["layers"]}))
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    try:
        if args.self_test:
            problems = self_test()
            for p in problems:
                print(f"self-test: {p}", file=sys.stderr)
            print("self-test " + ("FAILED" if problems else "passed"))
            return 1 if problems else 0
        if args.workload is None:
            ap.error("--workload is required")
        if args.seconds < 1:
            ap.error("--seconds must be at least 1")
        detail, result = run(args)
    except (BenchError, OSError, KeyError, ValueError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
