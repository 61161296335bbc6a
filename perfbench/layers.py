"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from outside the program, around the calls into
each layer's public functions:

- ``io``: ``load_table`` and ``register_views``. Most query modules bind
  them with ``from ..io import load_table``, so the wrapper replaces
  every module attribute bound to the original function, not only the
  one in ``integrator_spark.io``.
- ``streaming``: ``streaming.jobs.run_available_now``, with the
  micro-batch progress it leaves in ``LAST_RUN_PROGRESS``.
- ``queries`` / ``exec``: the query-function call and the action, timed
  by the worker's loop.

Spark jobs are attributed by job-id range: the scheduler's next job id
is read before and after each span, so jobs started by streaming
micro-batch threads, which do not inherit a job group, still count.
Task metrics and job start and end times come from the Spark event log,
which must be enabled when the session is launched (run.py does this).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict


class Tracer:
    """Wraps the layer entry points and accumulates spans per execution."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._depth = 0
        self.current: dict = {}
        self.start_execution()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def start_execution(self) -> dict:
        self.current = {
            "io": defaultdict(float), "io_outer_s": 0.0,
            "streaming": {"calls": 0, "s": 0.0, "progress": [],
                          "bytes_written": 0},
        }
        return self.current

    def install(self) -> None:
        from integrator_spark import io
        from integrator_spark.streaming import jobs

        for name in ("load_table", "register_views"):
            _rebind(getattr(io, name), self._wrap_io(name, getattr(io, name)))
        _rebind(jobs.run_available_now,
                self._wrap_stream(jobs, jobs.run_available_now))

    def _wrap_io(self, name, fn):
        def wrapper(*args, **kwargs):
            outer = self._depth == 0
            self._depth += 1
            j0 = self.next_job_id()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._depth -= 1
                rec = self.current["io"]
                rec[f"{name}.calls"] += 1
                rec[f"{name}.s"] += dt
                rec[f"{name}.jobs"] += self.next_job_id() - j0
                if outer:
                    self.current["io_outer_s"] += dt
        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_stream(self, jobs, fn):
        from integrator_spark.io import derived_dir

        def wrapper(stream_df, sf_dir, name, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(stream_df, sf_dir, name, *args, **kwargs)
            finally:
                rec = self.current["streaming"]
                rec["calls"] += 1
                rec["s"] += time.perf_counter() - t0
                rec["progress"].extend(json.loads(p.json)
                                       for p in jobs.LAST_RUN_PROGRESS)
                ckpt = os.path.join(derived_dir(sf_dir, "checkpoints"),
                                    f"{name}_pid{os.getpid()}")
                rec["bytes_written"] += _tree_bytes(ckpt)
        wrapper.__wrapped__ = fn
        return wrapper


def _rebind(original, wrapper) -> None:
    """Point every ``integrator_spark`` module attribute bound to
    ``original`` at ``wrapper``."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("integrator_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)


def _tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
    return total


def plan_phases(df) -> dict:
    """Catalyst phase durations (ms) of the DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        out[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def stream_summary(rec: dict) -> dict:
    """Micro-batch totals of one execution's run_available_now drains."""
    out = {"batches": len(rec["progress"]), "trigger_ms": 0.0,
           "add_batch_ms": 0.0, "wal_commit_ms": 0.0,
           "state_commit_ms": 0.0, "state_rows": 0, "state_mem_bytes": 0}
    for p in rec["progress"]:
        dur = p.get("durationMs") or {}
        out["trigger_ms"] += dur.get("triggerExecution", 0)
        out["add_batch_ms"] += dur.get("addBatch", 0)
        out["wal_commit_ms"] += dur.get("walCommit", 0) + dur.get(
            "commitOffsets", 0)
        ops = p.get("stateOperators") or []
        out["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["state_mem_bytes"] = max(
            out["state_mem_bytes"], sum(o.get("memoryUsedBytes", 0)
                                        for o in ops))
    # Rows held in state after the last batch of each drain.
    last_by_run: dict = {}
    for p in rec["progress"]:
        last_by_run[p.get("runId")] = p
    out["state_rows"] = sum(o.get("numRowsTotal", 0)
                            for p in last_by_run.values()
                            for o in (p.get("stateOperators") or []))
    return out


# ---------------------------------------------------------------------------
# Event log


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and per-stage task totals from the one uncompressed,
    non-rolling event log in ``log_dir`` (run.py sets those confs).

    Returns ``(jobs, stages)``: ``jobs[id] = {"start", "end", "stages"}``
    in epoch ms, ``stages[id]`` = task totals of that stage.
    """
    logs = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {logs}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(os.path.join(log_dir, logs[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"],
                                      "end": None, "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages[ev["Stage ID"]], ev)
    return jobs, stages


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    st["failed_tasks"] += 1 if info.get("Failed") else 0
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)


def job_totals(jobs: dict, stages: dict, first: int, last: int) -> dict:
    """Task totals over jobs ``first <= id < last``. A stage shared by
    several jobs runs in the first job that lists it; later jobs skip
    it, so each stage counts once, in its lowest job id."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    out = defaultdict(float)
    for sid, jid in owner.items():
        if first <= jid < last and sid in stages:
            out["stages"] += 1
            for key, value in stages[sid].items():
                out[key] += value
    out["jobs"] = sum(1 for jid in jobs if first <= jid < last)
    return out


def job_union_ms(jobs: dict, first: int, last: int,
                 lo_ms: float, hi_ms: float) -> float:
    """Length of the union of job spans, clipped to [lo_ms, hi_ms]."""
    spans = sorted((max(j["start"], lo_ms), min(j["end"], hi_ms))
                   for jid, j in jobs.items()
                   if first <= jid < last and j.get("start") is not None
                   and j.get("end") is not None)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
