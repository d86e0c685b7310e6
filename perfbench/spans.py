"""Tracing for the benchmark's traced runs, built only from the
benchmark's side of the public API.

* :class:`Tracer` keeps spans (name, start, end, parent) in memory.
  ``span(name, group=True)`` also sets a Spark job group for the calls
  made inside it, so jobs carry the layer in the event log.
  ``wrap(owner, attr, name)`` replaces a module or class attribute with
  a span-recording wrapper (plan-time spans for lazy builders that the
  program looks up through module attributes); ``unwrap()`` restores.
* :func:`read_event_log` reduces Spark's uncompressed event log to jobs
  (group, window, tasks, CPU, shuffle, spill) and per-operator Python
  boundary metrics ("time to run Python workers", "data sent to/
  returned from Python workers").
* :class:`RssSampler` samples ``VmHWM`` from ``/proc`` for the driver
  process tree (Python driver, driver JVM, Python workers).

Jobs are attributed to a span when their submission falls in its
window, so a job without a group (one started from a writer thread the
program owns, such as SnapshotStore's commit writers) still lands in
the round or layer span that started it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        rec = {"name": name, "start": time.time(),
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = None
        if group and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group and self.sc is not None:
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._wrapped.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._wrapped:
            owner, attr, original = self._wrapped.pop()
            setattr(owner, attr, original)

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]


# -- event log ---------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_INIT = ("time to initialize Python workers",
           "time to start Python workers")
PY_BYTES = ("data sent to Python workers",
            "data returned from Python workers")


def _plan_nodes(info: dict, out: dict) -> None:
    label = info.get("simpleString", "")
    for metric in info.get("metrics", []):
        out[metric["accumulatorId"]] = label
    for child in info.get("children", []):
        _plan_nodes(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per job: group, submit/end (epoch ms), tasks, cpu_s,
    shuffle_bytes, spill_bytes, py_init_s and ``py`` — a list of
    (operator label, run_s, bytes) per Python-boundary operator."""
    acc_label: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as handle:
            for line in handle:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SQLExecutionStart") or \
                        kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_nodes(ev["sparkPlanInfo"], acc_label)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {"id": ev["Job ID"],
                           "group": props.get("spark.jobGroup.id"),
                           "submit": ev["Submission Time"],
                           "end": ev["Submission Time"],
                           "tasks": 0, "cpu_s": 0.0,
                           "shuffle_bytes": 0, "spill_bytes": 0,
                           "py_init_s": 0.0, "py": {}}
                    jobs[job["id"]] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = job["id"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    job["shuffle_bytes"] += (
                        tm.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0))
                    job["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                           + tm.get("Disk Bytes Spilled", 0))
                    for acc in (ev.get("Task Info") or {}) \
                            .get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if not isinstance(upd, (int, float)):
                            try:
                                upd = float(upd)
                            except (TypeError, ValueError):
                                continue
                        if name in PY_INIT:
                            job["py_init_s"] += upd / 1000.0
                        elif name == PY_RUN or name in PY_BYTES:
                            label = acc_label.get(acc["ID"], "?")
                            run_s, nbytes = job["py"].get(label, (0.0, 0))
                            if name == PY_RUN:
                                run_s += upd / 1000.0
                            else:
                                nbytes += int(upd)
                            job["py"][label] = (run_s, nbytes)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def jobs_in(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs submitted inside [start, end] (epoch seconds)."""
    return [j for j in jobs if start * 1000 <= j["submit"] <= end * 1000]


def python_cost(jobs: list[dict], udf_names) -> tuple[float, int]:
    """(run seconds, bytes to+from Python) of the Python-boundary
    operators whose plan label calls one of ``udf_names``."""
    run_s, nbytes = 0.0, 0
    for job in jobs:
        for label, (r, b) in job["py"].items():
            if any(f"{n}(" in label for n in udf_names):
                run_s += r
                nbytes += b
    return run_s, nbytes


def busy_s(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    lo, hi = start * 1000, end * 1000
    spans = sorted((max(lo, j["submit"]), min(hi, j["end"]))
                   for j in jobs if j["end"] >= lo and j["submit"] <= hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def spark_totals(jobs: list[dict]) -> dict:
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "spark.python_init_s": sum(j["py_init_s"] for j in jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
    }


# -- memory ------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as handle:
                out.extend(int(p) for p in handle.read().split())
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as handle:
            for line in handle:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this one)."""
    todo, out = _children(root or os.getpid()), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as handle:
            return handle.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_hwm_kb(root: int | None = None) -> dict[int, int]:
    """``VmHWM`` (KiB) of every live process in a tree."""
    root = root or os.getpid()
    return {pid: _hwm_kb(pid) for pid in [root, *descendants(root)]}


class RssSampler:
    """Memory high-water marks of the driver's process tree, sampled in
    the background: the Python driver, the driver JVM and its Python
    workers (``peak_mb``: the highest tree-wide sum seen; ``parts``:
    the highest per process, keyed by pid).

    A process counts only once two consecutive samples have seen it: a
    child the JVM has just spawned shares the JVM's memory until it
    execs, and would otherwise add a second JVM-sized high-water mark."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.parts: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self):
        now = tree_hwm_kb()
        steady = {p: kb for p, kb in now.items() if p in self._last}
        self._last = now
        for pid, kb in steady.items():
            self.parts[pid] = max(kb, self.parts.get(pid, 0))
        self.peak_mb = max(self.peak_mb, sum(steady.values()) / 1024.0)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
