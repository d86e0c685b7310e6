"""Self-test of the benchmark at a small input scale.

    python3 -m pytest perfbench/tests/selftest.py -q

The file name keeps it out of a plain ``pytest`` collection from the
repository root: each case starts its own Spark session, so the whole
file takes several minutes.

For every workload in BENCHMARK.json: an untraced run prints every
end-to-end metric with its unit and passes its correctness check; a
traced run prints every per-layer metric with its unit, and every layer
the workload runs reads above zero; a run whose first output is
deliberately damaged fails the check. No run leaves a process behind.
"""

import glob
import json
import os
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
    SPEC = json.load(handle)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SCALE = {"crawl": "0.02", "curate": "0.5"}
# per-layer metrics each workload must attribute (perfbench/METRICS.md);
# not textops.lsh_pairs, a count of the input's near-dup candidates,
# which a small input may lack
SPARK = ["session.start_s", "spark.jobs", "spark.tasks",
         "spark.shuffle_bytes", "spark.python_init_s",
         "spark.executor_cpu_s"]
LAYERS = {
    "crawl": SPARK + [
        "synth.pages_s", "kernel.mime.parse_mb_per_s",
        "kernel.decode.mb_per_s", "kernel.urlnorm.urls_per_s",
        "schedule.canon_s", "schedule.robots_s", "schedule.politeness_s",
        "schedule.python_run_s", "schedule.python_bytes",
        "parse.extract_s", "parse.index_s", "parse.python_run_s",
        "parse.python_bytes", "crawl.round_p50_s",
        "crawl.jobs_per_round", "crawl.tasks_per_round",
        "crawl.plan_s_per_round", "crawl.driver_s_per_round",
        "seen.bloom_bytes_per_round", "seen.python_run_s_per_round",
        "snapshots.commit_s_per_round", "snapshots.bytes_per_round",
        "snapshots.files_per_round", "snapshots.state_bytes_per_url"],
    "curate": SPARK + [
        "textops.substring_dedup_s", "textops.minhash_lsh_s",
        "textops.dedup_clusters_s",
        "textops.dedup_clusters_jobs", "textops.exact_dedup_s",
        "textops.paragraph_dedup_s", "textops.decontam_s",
        "textops.unigram_lp_s", "textops.gopher_s",
        "ann.semantic_dedup_s", "ann.semantic_dedup_jobs"],
}


def leftovers(pid):
    """Live processes started by the run with this pid: they carry its
    work dir (``.perfbench_work/<workload>-<pid>``) in their TMPDIR."""
    mark = b"TMPDIR=" + os.path.join(ROOT, ".perfbench_work").encode()
    tail = f"-{pid}{os.sep}tmp".encode()
    out = []
    for path in glob.glob("/proc/[0-9]*/environ"):
        try:
            with open(path, "rb") as handle:
                env = handle.read().split(b"\0")
        except OSError:
            continue
        if any(v.startswith(mark) and v.endswith(tail) for v in env):
            out.append(int(path.split("/")[2]))
    return out


def run(workload, trace, *extra):
    # output to files, not pipes: a process left running would hold a
    # pipe open and make the wait below outlast it
    with tempfile.TemporaryFile("w+") as out, \
            tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace),
             "--scale", SCALE[workload], *extra],
            cwd=ROOT, stdout=out, stderr=err)
        try:
            proc.wait(timeout=600)
        finally:
            proc.kill()
            proc.wait()
        left = leftovers(proc.pid)
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert proc.returncode == 0, stderr[-2000:]
    assert not left, f"processes left running: {left}"
    return json.loads(stdout.strip().splitlines()[-1])


def assert_metrics(result, specs):
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_check(workload):
    res = run(workload, 0)
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 2
    assert_metrics(res, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    res = run(workload, 1)
    assert res["correct"]
    assert_metrics(res, SPEC["per_layer"])
    zero = [n for n in LAYERS[workload]
            if not res["metrics"][n]["value"] > 0]
    assert not zero, zero


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_check(workload):
    res = run(workload, 0, "--corrupt")
    assert not res["correct"]
    assert res["failed"] >= 1
