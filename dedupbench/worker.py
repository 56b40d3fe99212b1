"""The system under test, one fresh process per benchmark run.

    python3 dedupbench/worker.py --workload W --input DIR --work DIR \
        --seconds N --trace 0|1 --spawn-t T --cores C --result FILE

Drives the package's public functions only.  Timeline of one process:

1. set-up: ``get_spark`` plus one trivial job; ``setup_s`` is measured
   from ``--spawn-t`` (the parent's monotonic clock just before it started
   this process; the clock is system-wide) to the end of that job;
2. workload preparation outside every timer (incremental_delta runs its
   reference recompute and builds its pristine base state here);
3. the cold pass: the first timed operation;
4. warm repeats until ``--seconds`` have passed since the first one
   started (at least ``MIN_WARM``).  The first ``WARMUP`` repeats are
   still on the JVM's compile ramp and are reported but not used;
5. output checks of every operation, then the once-per-run checks.

Each operation's wall time and the CPU of this process's whole tree
(driver, JVM, Python workers) are taken around the call itself.  The
per-operation output checks read the written parquet with pyarrow,
outside the timer, and start no Spark job.  The result is written as JSON
to ``--result``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import time
import traceback

import procstat

WARMUP = 1     # warm repeats discarded as compile ramp
MIN_WARM = 2   # warm repeats run even when --seconds is already spent
RECALL_GATE = 0.99


def digest(values) -> str:
    h = hashlib.sha256()
    for v in values:
        h.update(repr(v).encode())
    return h.hexdigest()[:16]


def partition_digest(assign) -> str:
    """Digest of the clustering itself (cluster ids are doc ids, so this
    also pins which member names each cluster)."""
    return digest(sorted(zip(assign["doc_id"], assign["cluster_id"])))


def size_histogram(cluster_ids) -> list:
    from collections import Counter

    return sorted(Counter(Counter(cluster_ids).values()).items())


class Verifier:
    """Exact, engine-free checks of what the pipeline claims about a pair,
    from the input contents.  A pair of kind ``near_dup`` must reach the
    pinned 5-gram Jaccard threshold (``shingles_py``) or SimHash Hamming
    distance (the acceptance rule of ``score_and_verify``); ``exact`` must
    have equal content; ``exact_substring`` must have one doc's normalized
    token stream contiguous in the other's (``verify_containment``'s rule).
    Per-doc figures are cached across the operations of a run."""

    def __init__(self, contents: dict, sha: dict, substring: bool):
        from duplicatesuricate_spark.config import DEFAULT_CONFIG

        self.cfg = DEFAULT_CONFIG
        self.contents, self.sha, self.substring = contents, sha, substring
        self._shingles: dict = {}
        self._simhash: dict = {}
        self._norm: dict = {}

    def _cached(self, cache: dict, fn, d):
        if d not in cache:
            cache[d] = fn(self.contents[d])
        return cache[d]

    def jaccard_ok(self, a, b) -> bool:
        from duplicatesuricate_spark.functions.text import shingles_py

        sa = self._cached(self._shingles, shingles_py, a)
        sb = self._cached(self._shingles, shingles_py, b)
        inter = len(sa & sb)
        return inter >= self.cfg.jaccard_threshold * (len(sa) + len(sb) - inter)

    def hamming_ok(self, a, b) -> bool:
        ha = self._cached(self._simhash, simhash_ref, a)
        hb = self._cached(self._simhash, simhash_ref, b)
        return bin(ha ^ hb).count("1") <= self.cfg.hamming_threshold

    def contained(self, a, b) -> bool:
        pat = re.compile(self.cfg.token_pattern)

        def norm(s: str) -> str:
            return " " + " ".join(t for t in pat.split(s.lower()) if t) + " "

        na, nb = self._cached(self._norm, norm, a), self._cached(self._norm, norm, b)
        return na in nb if len(na) <= len(nb) else nb in na

    def pair(self, a, b, kind: str) -> bool:
        if a not in self.contents or b not in self.contents:
            return False
        if kind == "exact":
            return self.sha[a] == self.sha[b]
        if kind == "near_dup":
            return self.jaccard_ok(a, b) or self.hamming_ok(a, b)
        if kind == "exact_substring":
            return self.contained(a, b)
        return False

    def linked(self, a, b) -> bool:
        """Would any channel of the workload's pipeline accept (a, b)?"""
        return (self.sha[a] == self.sha[b] or self.jaccard_ok(a, b)
                or (self.substring and self.contained(a, b)) or self.hamming_ok(a, b))

    def unlinked_clusters(self, assign, edges=()) -> int:
        """Clusters whose members are not connected by pairs that pass the
        exact checks: the engine merged documents it had no evidence for.
        ``edges`` are pairs already verified; other member pairs are tried
        only while a cluster is still split."""
        members: dict = {}
        for d, c in zip(assign["doc_id"], assign["cluster_id"]):
            members.setdefault(c, []).append(d)
        bad = 0
        for docs in members.values():
            if len(docs) < 2:
                continue
            if any(d not in self.contents for d in docs):
                bad += 1
                continue
            root = {d: d for d in docs}

            def find(x):
                while root[x] != x:
                    root[x] = root[root[x]]
                    x = root[x]
                return x

            def union(a, b) -> int:
                ra, rb = find(a), find(b)
                if ra != rb:
                    root[ra] = rb
                    return 1
                return 0

            groups = len(docs) - sum(union(a, b) for a, b in edges
                                     if a in root and b in root)
            for i, a in enumerate(docs):
                for b in docs[i + 1:]:
                    if groups == 1:
                        break
                    if find(a) != find(b) and self.linked(a, b):
                        groups -= union(a, b)
            bad += groups > 1
        return bad


def simhash_ref(content: str) -> int:
    """The sketch kernel's 64-bit SimHash of one document (unsigned),
    outside Spark: token hashes from the package's pure-Python tokenizer
    oracle, 5-gram hashes with the kernel's mixing constants, then a
    majority vote per bit over the distinct gram hashes."""
    import numpy as np

    from duplicatesuricate_spark.config import DEFAULT_CONFIG
    from duplicatesuricate_spark.functions.sketch import _GRAM_C, _MIX, tokenize_hash_py

    k = DEFAULT_CONFIG.shingle_k
    toks = np.array(tokenize_hash_py(content), dtype=np.uint64)
    n = max(len(toks) - k + 1, 1)   # a doc under k tokens is one gram
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(min(k, len(toks))):
        acc += toks[j:j + n] * _GRAM_C[j]
    acc ^= acc >> np.uint64(33)
    acc *= _MIX
    acc ^= acc >> np.uint64(29)
    grams = np.unique(acc)
    ones = ((grams[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(axis=0)
    return sum(1 << int(bit) for bit in np.flatnonzero(2 * ones > len(grams)))


class Checker:
    """Output checks shared by the workloads.  ``keys`` maps the natural
    key to the doc_id the engine must mint and to the content's sha256,
    both computed by the generator without the engine; ``contents`` maps
    that doc_id to the input content."""

    def __init__(self, input_dir: str, keys, contents: dict, substring: bool):
        import pandas as pd

        self.expected_sha = dict(zip(keys["doc_id"], keys["content_sha256"]))
        self.verifier = Verifier(contents, self.expected_sha, substring)
        truth = pd.read_parquet(os.path.join(input_dir, "truth.parquet"))
        ids = keys.set_index(["repo", "path", "commit"])["doc_id"]
        self.truth = list(zip(
            ids.loc[list(zip(truth.repo_a, truth.path_a, truth.commit_a))].to_numpy(),
            ids.loc[list(zip(truth.repo_b, truth.path_b, truth.commit_b))].to_numpy(),
            truth["kind"],
        ))
        self.digests: dict[str, str] = {}
        self.precision: dict[tuple, list[str]] = {}

    def check(self, assign, pairs=None) -> tuple[list[str], float, dict]:
        """-> (failures, recall, digests) for one operation's outputs."""
        fails = []
        if len(assign) != len(self.expected_sha) or set(assign["doc_id"]) != set(self.expected_sha):
            fails.append("assignments do not cover every input row exactly once")
        got_sha = dict(zip(assign["doc_id"], assign["content_sha256"]))
        if any(got_sha.get(d) != s for d, s in self.expected_sha.items()):
            fails.append("content_sha256 not preserved per row")
        cl = dict(zip(assign["doc_id"], assign["cluster_id"]))
        by_kind = {}
        for a, b, kind in self.truth:
            hit = cl.get(a) is not None and cl.get(a) == cl.get(b)
            by_kind.setdefault(kind, []).append(hit)
        self.last_by_kind = {k: sum(v) / len(v) for k, v in by_kind.items()}
        # the recall contract is owned by the MinHash channel at the pinned
        # threshold; planted containment pairs are reported, not gated,
        # because a contained doc shorter than two anchored chunks is below
        # what the substring channel is specified to find
        recall = self.last_by_kind.get("near_dup", 1.0)
        if recall < RECALL_GATE:
            fails.append(f"pair recall {recall:.4f} < {RECALL_GATE}")
        digests = {"partition": partition_digest(assign)}
        if pairs is not None:
            digests["pairs"] = digest(sorted(zip(pairs["id_a"], pairs["id_b"], pairs["kind"])))
        # precision: every emitted pair and every cluster must stand up to
        # the exact checks, so skipped verification or over-merging fails.
        # Outputs identical to an operation already checked are not re-checked.
        key = tuple(sorted(digests.items()))
        if key not in self.precision:
            prec = []
            edges = []
            if pairs is not None:
                triples = list(zip(pairs["id_a"], pairs["id_b"], pairs["kind"]))
                edges = [(a, b) for a, b, k in triples if self.verifier.pair(a, b, k)]
                if len(edges) < len(triples):
                    prec.append(f"{len(triples) - len(edges)} emitted pairs fail "
                                "the exact check of their kind")
            unlinked = self.verifier.unlinked_clusters(assign, edges)
            if unlinked:
                prec.append(f"{unlinked} clusters are not connected by verified pairs")
            self.precision[key] = prec
        fails += self.precision[key]
        for k, v in digests.items():
            if self.digests.setdefault(k, v) != v:
                fails.append(f"{k} digest differs from the first operation's")
        return fails, recall, digests


def read_parquet_dir(path: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pandas()


class Batch:
    """batch_skewed: what jobs/dedup_job.py does, on one corpus."""

    inputs = ("corpus.parquet",)
    substring = True

    def __init__(self, spark, input_dir: str, work: str):
        self.spark, self.input_dir, self.work = spark, input_dir, work
        self.corpus_path = os.path.join(input_dir, "corpus.parquet")

    def prepare(self) -> None:
        pass

    def reset(self) -> None:
        pass

    def run(self, i: int) -> str:
        from duplicatesuricate_spark.operators.dedup import dedup_pipeline
        from duplicatesuricate_spark.sources.corpus import read_corpus
        from duplicatesuricate_spark.sources.sinks import write_dedup_outputs

        out = os.path.join(self.work, f"out{i}")
        res = dedup_pipeline(read_corpus(self.spark, self.corpus_path),
                             include_substring_pass=True)
        write_dedup_outputs(res, out)
        res.unpersist()
        return out

    def keep(self, i: int, out: str) -> str:
        return out

    def outputs(self, out: str):
        assign = read_parquet_dir(f"{out}/assignments", ["doc_id", "content_sha256", "cluster_id"])
        pairs = read_parquet_dir(f"{out}/pairs", ["id_a", "id_b", "kind"])
        return assign, pairs

    def run_checks(self, first_assign) -> list[str]:
        return []


class Incremental:
    """incremental_delta: merge a ~10% delta into a base state that this
    process built with the code under test.  Every timed merge starts from
    a byte-identical copy of the pristine state (restored outside the
    timer).  The build runs before the first timed merge, so that merge
    starts with the JVM and the Python workers already warm: a separate
    build process would cost one more JVM start per run, which the time
    budget does not allow."""

    inputs = ("base.parquet", "delta.parquet")
    substring = False

    def __init__(self, spark, input_dir: str, work: str):
        self.spark, self.input_dir, self.work = spark, input_dir, work
        self.base = os.path.join(input_dir, "base.parquet")
        self.delta = os.path.join(input_dir, "delta.parquet")
        self.pristine = os.path.join(work, "state_pristine")
        self.state = os.path.join(work, "state")

    def prepare(self) -> None:
        """The reference recompute for ``run_checks``, then the pristine base
        state.  Whichever runs first pays the process's cold start; in this
        order the two finish about 2 s sooner than with the recompute last."""
        from duplicatesuricate_spark.operators.dedup import dedup_pipeline
        from duplicatesuricate_spark.sources.corpus import read_corpus
        from duplicatesuricate_spark.streaming.incremental import incremental_dedup

        both = read_corpus(self.spark, self.base).unionByName(
            read_corpus(self.spark, self.delta))
        res = dedup_pipeline(both, include_substring_pass=False)
        self.reference = size_histogram(res.assignments.select("cluster_id").toPandas()["cluster_id"])
        res.unpersist()
        incremental_dedup(self.spark, read_corpus(self.spark, self.base), self.pristine)

    def reset(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(self.pristine, self.state)

    def run(self, i: int) -> str:
        from duplicatesuricate_spark.sources.corpus import read_corpus
        from duplicatesuricate_spark.streaming.incremental import incremental_dedup

        incremental_dedup(self.spark, read_corpus(self.spark, self.delta), self.state)
        return self.state

    def keep(self, i: int, out: str) -> str:
        """The state dir is reused by the next merge: copy the assignments."""
        kept = os.path.join(self.work, f"check{i}")
        shutil.copytree(os.path.join(out, "assignments"), os.path.join(kept, "assignments"))
        return kept

    def outputs(self, out: str):
        return read_parquet_dir(f"{out}/assignments", ["doc_id", "content_sha256", "cluster_id"]), None

    def run_checks(self, first_assign) -> list[str]:
        """Merged clustering == a full batch recompute over base ∪ delta
        (no substring channel: the incremental path has none)."""
        if size_histogram(first_assign["cluster_id"]) != self.reference:
            return ["merged cluster-size histogram differs from the full recompute"]
        return []


WORKLOADS = {"batch_skewed": Batch, "incremental_delta": Incremental}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spawn-t", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from duplicatesuricate_spark import get_spark

    extra = {}
    eventlog_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        os.makedirs(eventlog_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + os.path.abspath(eventlog_dir)}
    spark = get_spark(app_name=f"dedupbench-{args.workload}", cores=args.cores,
                      extra_conf=extra)
    spark.range(1).count()
    setup_s = time.monotonic() - args.spawn_t
    conf = spark.sparkContext.getConf()
    result = {
        "setup_s": setup_s,
        "jvm": {k: conf.get(k, None) for k in (
            "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
            "spark.sql.shuffle.partitions", "spark.local.dir", "spark.eventLog.enabled")},
        "ops": [],
    }

    wl = WORKLOADS[args.workload](spark, args.input, args.work)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark.sparkContext)
        tracer.install()
    me = os.getpid()
    t_prep = time.monotonic()
    wl.prepare()
    result["prepare_s"] = time.monotonic() - t_prep

    outs = []
    t_warm = None
    i = 0
    while True:
        wl.reset()
        if i == 1:
            t_warm = time.monotonic()
        if tracer:
            tracer.begin_op(i)
        cpu0 = procstat.tree_usage(me)[0]
        t0 = time.monotonic()
        err = None
        out = None
        try:
            out = wl.run(i)
        except Exception:  # a failed operation is counted, the run goes on
            err = traceback.format_exc(limit=3)
        wall = time.monotonic() - t0
        cpu = procstat.tree_usage(me)[0] - cpu0
        if tracer:
            tracer.end_op()
        op = {"i": i, "wall_s": wall, "cpu_s": cpu, "fails": [err] if err else []}
        if out is not None:
            outs.append((op, wl.keep(i, out)))
        result["ops"].append(op)
        i += 1
        warm_done = i - 1
        if warm_done >= MIN_WARM and time.monotonic() - t_warm >= args.seconds:
            break

    # ---- output checks, outside every timer --------------------------------
    if tracer:
        tracer.op = -1
    import pandas as pd

    t_checks = time.monotonic()
    run_fails = []
    keys = pd.read_parquet(os.path.join(args.input, "keys.parquet"))
    doc_ids = keys.set_index(["repo", "path", "commit"])["doc_id"]
    contents = {}
    for name in wl.inputs:
        df = pd.read_parquet(os.path.join(args.input, name))
        contents.update(zip(doc_ids.loc[list(zip(df.repo, df.path, df.commit))], df.content))
    checker = Checker(args.input, keys, contents, wl.substring)
    first_assign = None
    for op, out in outs:
        assign, pairs = wl.outputs(out)
        fails, recall, digests = checker.check(assign, pairs)
        op["fails"] += fails
        op["recall"] = recall
        op["recall_by_kind"] = checker.last_by_kind
        op["digests"] = digests
        if first_assign is None:
            first_assign = assign
    if first_assign is not None:
        run_fails += wl.run_checks(first_assign)
    result["run_fails"] = run_fails
    result["checks_s"] = time.monotonic() - t_checks
    result["truth_pairs"] = sum(1 for t in checker.truth if t[2] == "near_dup")
    result["cores"] = args.cores

    if tracer:
        tracer.uninstall()
        from counters import counters

        t_c = time.monotonic()
        # funnel counters need the batch pipeline's stages
        result["counters"] = counters(spark, wl, outs) if isinstance(wl, Batch) else {}
        result["counters_s"] = time.monotonic() - t_c
    spark.stop()
    if tracer:
        import eventlog

        log = eventlog.parse(glob_one(eventlog_dir))
        result["trace"] = trace_report(tracer, log, result["ops"])
    with open(args.result, "w") as f:
        json.dump(result, f)


def glob_one(d: str) -> str:
    entries = [os.path.join(d, e) for e in os.listdir(d)]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {entries}")
    return entries[0]


def trace_report(tracer, log, ops: list) -> dict:
    """Per-layer figures per warm operation (mean over the kept repeats),
    plus the sketch kernel's cold-pass excess."""
    import eventlog
    from tracing import layer_times

    kept = {op["i"] for op in ops if op["i"] > WARMUP}
    span_layer = {s.id: s.layer for s in tracer.spans}
    span_op = {s.id: s.op for s in tracer.spans}
    n = len(kept)
    per = eventlog.layer_stats(log, span_layer, span_op, kept)
    for layer, t in layer_times(tracer.spans, kept).items():
        per.setdefault(layer, {}).update(t)
    report = {layer: {k: v / n if k != "task_skew" else v for k, v in m.items()}
              for layer, m in per.items()}
    # jobs that began inside DedupResult.unpersist (its metrics collect)
    unp = {s.id for s in tracer.spans if s.name == "DedupResult.unpersist" and s.op in kept}
    report["_unpersist_jobs"] = sum(1 for sp in log.jobs.values() if sp in unp) / n
    cold = eventlog.layer_stats(log, span_layer, span_op, {0}).get("functions.sketch", {})
    warm = report.get("functions.sketch", {})
    report["_sketch_cold_extra_s"] = cold.get("stage_wall_s", 0.0) - warm.get("stage_wall_s", 0.0)
    report["_overhead_s"] = tracer.overhead_s / len(ops)
    report["_warm_wall_s"] = sum(op["wall_s"] for op in ops if op["i"] in kept) / n
    return report


if __name__ == "__main__":
    main()
