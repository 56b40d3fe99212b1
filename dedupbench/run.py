"""Near-duplicate dedup benchmark: one run of one workload.

    python3 dedupbench/run.py --workload batch_skewed --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run is:

1. ``gen.py`` in its own process writes the seeded inputs (outside every
   timer);
2. ``worker.py`` in a fresh process (its own JVM and Python workers)
   drives the package and times set-up, one cold pass and warm repeats;
   this process samples the worker's process tree from ``/proc`` for peak
   RSS and notes the CPU the rest of the host used meanwhile;
3. the last line of standard output is one JSON object:
   ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
   the metrics are the end-to-end ones; with ``--trace 1`` the worker runs
   with an event log and spans, and the metrics are the per-layer ones.
   The exit code is 1 when any output check failed (the result line is
   printed first).

Noise diagnostics of the run (load, host CPU outside the run, every warm
sample, JVM options) go to standard error as one JSON line prefixed
``diag:``.  Everything the run writes stays under ``dedupbench/_work`` and
is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
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
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from worker import WARMUP, WORKLOADS  # noqa: E402

DEADLINE_S = 170   # both children of one run, set-up included


def child_env(work: str) -> dict:
    """Environment of both children: the package importable by the Spark
    driver and by every Python worker Spark forks (without PYTHONPATH each sketch
    task fails with ModuleNotFoundError), and every scratch file of Spark
    and Python inside the run's work dir."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    # the JVM's own temp files (native libraries it unpacks, perf data)
    # would otherwise go to /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    return env


def run_child(cmd: list[str], env: dict, timeout: float, sample: bool):
    """Run ``cmd`` in its own session and stop its whole process group when
    it ends or times out.  Returns (returncode, sampler or None)."""
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    sampler = procstat.TreeSampler(proc.pid, interval=0.5) if sample else None
    with sampler or contextlib.nullcontext():
        try:
            _, err = proc.communicate(timeout=timeout)
        finally:
            _stop_group(proc)
    if proc.returncode != 0 and err:
        sys.stderr.write(err[-4000:])
    return proc.returncode, sampler


def _stop_group(proc: subprocess.Popen) -> None:
    """Spark's JVM and Python daemon can outlive the worker briefly: kill
    what is left of its process group and wait until all of it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def end_to_end(res: dict, sampler) -> tuple[dict, int, int]:
    ops = res["ops"]
    warm = ops[1 + WARMUP:]
    attempted = len(ops)
    failed = sum(1 for op in ops if op["fails"]) + (1 if res["run_fails"] else 0)
    failed = min(failed, attempted)
    recall = min(op.get("recall", 0.0) for op in ops)
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_run_s": (ops[0]["wall_s"], "s"),
        "warm_run_s": (statistics.median(op["wall_s"] for op in warm), "s"),
        "cpu_s": (statistics.median(op["cpu_s"] for op in warm), "core-s"),
        "peak_rss_mb": (sampler.peak_rss_mb, "MB"),
        "pair_recall": (recall, "fraction"),
        "ok_share": ((attempted - failed) / attempted, "fraction"),
    }, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "duplicatesuricate_spark", "__init__.py")):
        print(f"dedupbench: package duplicatesuricate_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    env = child_env(work)
    diag = {"workload": args.workload, "seed": args.seed, "load1_start": procstat.load1()}
    inp = os.path.join(work, "input")
    rc, _ = run_child([sys.executable, os.path.join(HERE, "gen.py"), "--workload",
                       args.workload, "--seed", str(args.seed), "--out", inp],
                      env, deadline - time.monotonic(), sample=False)
    diag["gen_s"] = time.monotonic() - t_start
    if rc != 0:
        print("dedupbench: input generator failed", file=sys.stderr)
        return 1
    with open(os.path.join(inp, "manifest.json")) as f:
        manifest = json.load(f)

    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--input", inp, "--work", work, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(len(os.sched_getaffinity(0))),
           "--result", result_path,
           # read just before the worker starts: set-up includes the
           # interpreter start and imports, as a spark-submit job pays them
           "--spawn-t", repr(time.monotonic())]
    rc, sampler = run_child(cmd, env, deadline - time.monotonic(), sample=True)
    if rc != 0 or not os.path.exists(result_path):
        print(f"dedupbench: worker failed (exit {rc})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    e2e, attempted, failed = end_to_end(res, sampler)
    diag.update({
        "load1_end": procstat.load1(),
        "outside_cpu_s": sampler.outside_cpu_s,
        "cold_s": res["ops"][0]["wall_s"],
        "warm_samples_s": [op["wall_s"] for op in res["ops"][1:]],
        "warm_cpu_s": [op["cpu_s"] for op in res["ops"][1:]],
        "warmup_discarded": WARMUP,
        "prepare_s": res["prepare_s"],
        "checks_s": res["checks_s"],
        "truth_pairs": res["truth_pairs"],
        "manifest": manifest,
        "digests": res["ops"][0].get("digests"),
        "recall_by_kind": res["ops"][0].get("recall_by_kind"),
        "fails": [f for op in res["ops"] for f in op["fails"]] + res["run_fails"],
        "jvm": res["jvm"],
        "java_tool_options": env["JAVA_TOOL_OPTIONS"],
        "run_wall_s": time.monotonic() - t_start,
    })
    print("diag: " + json.dumps(diag), file=sys.stderr)
    if args.trace:
        from counters import per_layer_metrics

        metrics = per_layer_metrics(res)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
