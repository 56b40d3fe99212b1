"""Per-layer figures from a Spark event log.

Spark 4 writes the log zstd-compressed (``events_*.zstd`` inside an
``eventlog_v2_*`` directory when rolling is on); ``pyarrow`` decompresses
it, so no extra package is needed.  Jobs are attributed to the span whose
id the job carries in the ``dedupbench.span`` local property
(``tracing.py``).  A stage whose plan runs a Python kernel is attributed
to the module that owns the kernel instead, because the kernel executes
inside whichever action first needs it: ``MapInArrow`` is the sketch
kernel (``functions.sketch``), ``MapInPandas`` the containment check
(``operators.substring``).  A stage that only reads a kernel's persisted
output stays with its job's layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

from tracing import PROPERTY

KERNEL_SCOPES = {"MapInArrow": "functions.sketch", "MapInPandas": "operators.substring"}


@dataclass
class Stage:
    id: int
    job: int
    kernel: str | None = None
    submitted: float = 0.0
    completed: float = 0.0
    task_ms: list = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Log:
    jobs: dict = field(default_factory=dict)     # job id -> span id (or None)
    stages: dict = field(default_factory=dict)   # stage id -> Stage


def read_events(path: str):
    """Yield events from one log file or from every file in a log dir."""
    import pyarrow as pa

    files = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
    for f in files:
        name = os.path.basename(f)
        if name.startswith(".") or name.startswith("appstatus"):
            continue
        compression = "zstd" if f.endswith(".zstd") else None
        with pa.input_stream(f, compression=compression) as s:
            for line in s.read().decode().splitlines():
                if line:
                    yield json.loads(line)


def _kernel(stage_info: dict, computed: set) -> str | None:
    """The module whose Python kernel this stage runs, if any.  A kernel
    RDD below a persisted RDD is computed only by the first stage that
    contains it (``computed`` remembers those); later stages read the
    cached blocks and keep their job's layer."""
    rdds = {r["RDD ID"]: r for r in stage_info.get("RDD Info", [])}
    below_cache: set = set()
    for r in rdds.values():
        if r["Storage Level"]["Use Memory"] or r["Storage Level"]["Use Disk"]:
            todo = list(r["Parent IDs"])
            while todo:
                p = todo.pop()
                if p in rdds and p not in below_cache:
                    below_cache.add(p)
                    todo.extend(rdds[p]["Parent IDs"])
    for rid, r in rdds.items():
        layer = KERNEL_SCOPES.get(json.loads(r["Scope"]).get("name")) if r.get("Scope") else None
        if layer and not (rid in below_cache and rid in computed):
            computed.add(rid)
            return layer
    return None


def parse(path: str) -> Log:
    log = Log()
    computed: set = set()
    for e in read_events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get(PROPERTY)
            log.jobs[e["Job ID"]] = int(span) if span else None
            for sid in e.get("Stage IDs", []):
                log.stages.setdefault(sid, Stage(sid, e["Job ID"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], -1))
            st.submitted = info.get("Submission Time", 0) / 1000
            st.completed = info.get("Completion Time", 0) / 1000
            st.kernel = _kernel(info, computed)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            st = log.stages.get(e["Stage ID"])
            if not m or st is None:
                continue
            st.task_ms.append(m["Executor Run Time"])
            st.gc_ms += m["JVM GC Time"]
            st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            st.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st.input_bytes += m["Input Metrics"]["Bytes Read"]
            st.output_bytes += m["Output Metrics"]["Bytes Written"]
    return log


def layer_stats(log: Log, span_layer: dict[int, str], span_op: dict[int, int],
                ops: set[int]) -> dict[str, dict[str, float]]:
    """Per layer, summed over the jobs/stages of ``ops``: jobs, task_s,
    gc_s, shuffle_write_mb, spill_mb, input/output MB, stage wall, and
    task_skew = sum of per-stage max task time / sum of per-stage median
    (how much longer the slowest task holds each stage than a typical one).
    Jobs started outside the spans of ``ops`` are left out."""
    out: dict[str, dict[str, float]] = {}

    def rec(layer: str) -> dict:
        return out.setdefault(layer, {
            "jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "input_mb": 0.0, "output_mb": 0.0,
            "stage_wall_s": 0.0, "_max": 0.0, "_med": 0.0,
        })

    job_layer = {}
    for job, span in log.jobs.items():
        if span is None or span_op.get(span) not in ops:
            continue
        job_layer[job] = span_layer[span]
        rec(span_layer[span])["jobs"] += 1
    for st in log.stages.values():
        if st.job not in job_layer or not st.task_ms:
            continue
        r = rec(st.kernel or job_layer[st.job])
        r["task_s"] += sum(st.task_ms) / 1000
        r["gc_s"] += st.gc_ms / 1000
        r["shuffle_write_mb"] += st.shuffle_write / 2**20
        r["spill_mb"] += st.spill / 2**20
        r["input_mb"] += st.input_bytes / 2**20
        r["output_mb"] += st.output_bytes / 2**20
        r["stage_wall_s"] += max(0.0, st.completed - st.submitted)
        r["_max"] += max(st.task_ms)
        r["_med"] += statistics.median(st.task_ms)
    for r in out.values():
        mx, md = r.pop("_max"), r.pop("_med")
        r["task_skew"] = mx / md if md > 0 else 1.0
    return out
