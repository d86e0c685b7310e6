"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 1 \
        --seconds 30 --trace 0

Run from the repository root. The runner builds the workload's inputs
from ``--seed`` (several times; the median is ``setup_s``), times one
cold operation and then the workload's fixed number of steady
operations, checks every output against a reference outside the
timed region and prints, as its last stdout line, ``{"correct",
"attempted", "failed", "metrics"}``. ``--seconds`` is accepted for the
common benchmark interface but does not change the operation count, so
that runs of faster or slower code do the same work.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` re-runs the
steady operations under spans, job groups and Spark's event log and
reports the per-layer metrics instead. A detail line (every wall time
and output, the CPU time the host stole during each op, the set-up
repetitions, a CPU-burn probe taken before and after) is printed just
before the result.

All state, Spark local dirs and temp files live under
``.perfbench_work/`` in the repository root and are removed at exit,
after the driver JVM and its Python workers have ended (also on an
error or SIGTERM).
Spark runs ``local[<cores available>]`` with a driver heap of
``$FRONTIER_DRIVER_MEM`` (default 3g), committed at start: an adaptive
heap made steady passes bimodal between runs.
"""

from __future__ import annotations

import argparse
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
sys.path[:0] = [ROOT, HERE]

SETUP_REPS = 3
TRACED_OPS = 2      # steady ops re-run under tracing

END_TO_END = {"setup_s": "s", "cold_s": "s", "items_per_s": "1/s",
              "peak_rss_mb": "MiB"}
# Per-layer metrics; a layer a workload never runs reports 0.
PER_LAYER = {
    "session.start_s": "s", "synth.pages_s": "s",
    "kernel.mime.parse_mb_per_s": "MiB/s",
    "kernel.decode.mb_per_s": "MiB/s",
    "kernel.urlnorm.urls_per_s": "1/s",
    "schedule.canon_s": "s", "schedule.robots_s": "s",
    "schedule.politeness_s": "s", "schedule.python_run_s": "s",
    "schedule.python_bytes": "B",
    "parse.extract_s": "s", "parse.index_s": "s",
    "parse.python_run_s": "s", "parse.python_bytes": "B",
    "crawl.round_p50_s": "s", "crawl.jobs_per_round": "count",
    "crawl.tasks_per_round": "count", "crawl.plan_s_per_round": "s",
    "crawl.driver_s_per_round": "s",
    "seen.bloom_bytes_per_round": "B",
    "seen.python_run_s_per_round": "s",
    "snapshots.commit_s_per_round": "s",
    "snapshots.bytes_per_round": "B",
    "snapshots.files_per_round": "count",
    "snapshots.state_bytes_per_url": "B",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.python_init_s": "s", "spark.executor_cpu_s": "s",
    "textops.substring_dedup_s": "s", "textops.minhash_lsh_s": "s",
    "textops.lsh_pairs": "count", "textops.dedup_clusters_s": "s",
    "textops.dedup_clusters_jobs": "count", "textops.exact_dedup_s": "s",
    "textops.paragraph_dedup_s": "s", "textops.decontam_s": "s",
    "textops.unigram_lp_s": "s", "textops.gopher_s": "s",
    "ann.semantic_dedup_s": "s", "ann.semantic_dedup_jobs": "count",
    "trace.overhead_pct": "%",
}
UNITS = {**END_TO_END, **PER_LAYER}


def cpu_probe() -> float:
    """Fixed 300 x 1 MiB sha256 burn: a pure-CPU yardstick; a run
    whose probe reads far from its neighbours rode a drifting host."""
    blk = b"\x00" * (1 << 20)
    t0 = time.perf_counter()
    for _ in range(300):
        hashlib.sha256(blk).digest()
    return time.perf_counter() - t0


def steal_s() -> float:
    """Seconds the host has so far withheld from this machine's CPUs
    (``steal`` in ``/proc/stat``), summed over CPUs: a steady op that
    ran slow while this grew was slowed by the host, not the code."""
    with open("/proc/stat") as handle:
        fields = handle.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6,
                    help="accepted, not used: every run does the "
                         "workload's fixed operation count")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs 0.01)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test hook: damage the first output "
                         "before the correctness check")
    return ap.parse_args(argv)


def session(work: str, trace: bool, cores: int):
    from frontier.spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['FRONTIER_DRIVER_MEM']}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": os.path.join(work, "events"),
                      "spark.eventLog.compress": "false"})
    return get_spark(app="perfbench", cores=cores, extra=extra)


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the driver JVM and every process below
    this one have ended. ``spark.stop()`` alone leaves the JVM running
    until it notices, after this process exits, that its stdin closed;
    its Python daemon and workers follow it later still."""
    import spans as tr

    tree = tr.descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        pyspark = sys.modules.get("pyspark")
        gateway = pyspark and pyspark.SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the JVM exits on EOF
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        tree = set(tree) | set(tr.descendants())
        deadline = time.monotonic() + timeout
        sig = signal.SIGTERM
        while True:
            left = [p for p in tree if tr.alive(p)]
            if not left:
                break
            if time.monotonic() > deadline:
                sig = signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            for pid in left:
                try:        # reap our own children; others are polled
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)


def run(args) -> dict:
    import spans as tr
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM (launcher and driver): temp files inside the work
        # dir, no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                      .split(os.pathsep) if p]),
    })
    os.environ.setdefault("FRONTIER_DRIVER_MEM", "3g")
    detail = {"cpu_probe_s": [cpu_probe()], "cores": cores}
    spark = None
    try:
        with tr.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = session(work, bool(args.trace), cores)
            session_s = time.perf_counter() - t0

            tracer = tr.Tracer(spark.sparkContext if args.trace
                               else None)
            wl = cls(spark, work, args.seed, args.scale, cores, tracer)
            for _ in range(SETUP_REPS):
                wl.setup()
            wl.prepare()
            reps = [sum(w[i] for w in wl.setup_walls.values())
                    for i in range(SETUP_REPS)]
            detail["setup_reps_s"] = reps
            t_ops = time.perf_counter()

            walls, outputs, raised, windows = [], [], None, []
            steals = detail["steal_s"] = []
            for i in range(1 + wl.n_steady):
                stolen = steal_s()
                t, start = time.perf_counter(), time.time()
                try:
                    out = wl.op(i)
                except Exception as exc:  # counted as a failed op
                    raised = repr(exc)
                    break
                walls.append(time.perf_counter() - t)
                steals.append(steal_s() - stolen)
                windows.append((start, time.time()))
                outputs.append(out)
                if i == 0:
                    t = time.perf_counter()
                    try:
                        wl.after_cold()
                    except Exception as exc:  # check() then fails all
                        detail["after_cold_error"] = repr(exc)
                    detail["after_cold_s"] = time.perf_counter() - t
            t_check = time.perf_counter()
            detail["walls_s"] = walls
            detail["outputs"] = outputs
            rss.sample()
            detail["rss_mb"] = sorted(
                (kb // 1024 for kb in rss.parts.values()), reverse=True)

            if args.corrupt and outputs:
                outputs[0] = wl.corrupt(outputs[0])
            failed = set()
            if raised is None:
                try:
                    failed = set(wl.check(outputs))
                except Exception as exc:  # a broken check fails all
                    failed = set(range(len(walls)))
                    detail["check_error"] = repr(exc)
            attempted = len(walls) + (raised is not None)
            if raised is not None:
                failed.add(len(walls))
                detail["error"] = raised
            if len(walls) < 2:
                raise RuntimeError(f"no steady op ran: {detail}")
            correct = not failed
            detail["ops_s"] = t_check - t_ops
            detail["check_s"] = time.perf_counter() - t_check
            detail["spans_s"] = {
                s["name"]: s["end"] - s["start"] for s in tracer.spans}

            if args.trace:
                n_traced = min(TRACED_OPS, len(walls) - 1)
                traced = wl.traced_ops(n_traced)
                wl.staged_layers()
                spark.stop()
                spark = None
                jobs = tr.read_event_log(os.path.join(work, "events"))
                metrics = {
                    **dict.fromkeys(PER_LAYER, 0),
                    "session.start_s": session_s,
                    **wl.layers(jobs),
                    **tr.spark_totals([j for w in windows
                                       for j in tr.jobs_in(jobs, *w)]),
                    "trace.overhead_pct": 100.0 * (
                        sum(traced) / sum(wl.baseline(walls, n_traced))
                        - 1.0),
                }
            else:
                metrics = {
                    "setup_s": session_s + statistics.median(reps),
                    "cold_s": walls[0],
                    **wl.end_to_end(walls, outputs),
                }
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_mb
    finally:
        try:
            shutdown(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    detail["cpu_probe_s"].append(cpu_probe())
    print(json.dumps({"detail": detail}))
    return {"correct": correct, "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": UNITS[k]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still unwinds through run()'s clean-up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
