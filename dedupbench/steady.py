"""Steadiness check: two sets of runs of the same code, compared against
the bounds in BENCHMARK.json.

    python3 dedupbench/steady.py --seeds 1,2,3,4,5 [--out runs.jsonl] [--levelling 60]

Each of the two sets runs every workload in BENCHMARK.json once per seed,
one run at a time (the runs share the host's memory with a pre-touched JVM
heap each).  Both sets use the same seeds, so a seed's output digests must
match across the sets.  For every workload x end-to-end metric it prints
the two set medians, the second's change against the first as a share of
it, and the spread (quartile distance over median) of all runs, each next
to the metric's bound; either one over the bound fails the check.
``--levelling S`` adds one run per workload whose warm phase lasts S
seconds and prints every warm repeat, to show where the repeats level.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def one_run(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    diag = next((json.loads(ln[6:]) for ln in p.stderr.splitlines()
                 if ln.startswith("diag: ")), {})
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "result": out, "diag": diag}


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3,4,5")
    ap.add_argument("--out", default=None, help="append every run as a JSON line")
    ap.add_argument("--levelling", type=int, default=0, metavar="SECONDS")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seeds = [int(s) for s in args.seeds.split(",")]
    metrics = bench["end_to_end"]

    runs: list[dict] = []
    bad = 0
    for s in range(SETS):
        for w in workloads:
            for seed in seeds:
                r = one_run(w, seed, bench["run_seconds"])
                r["set"] = s
                runs.append(r)
                ok = r["rc"] == 0 and r["result"] is not None and r["result"]["correct"]
                bad += not ok
                print(f"set {s} {w} seed {seed}: "
                      + ("ok" if ok else f"FAILED rc={r['rc']} {r['diag'].get('fails')}"),
                      file=sys.stderr, flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")

    print(f"{'workload':18} {'metric':12} {'median A':>10} {'median B':>10} "
          f"{'B vs A':>8} {'spread':>7} {'bound':>6}  verdict")
    for w in workloads:
        for m in metrics:
            sets = [[r["result"]["metrics"][m["name"]]["value"] for r in runs
                     if r["workload"] == w and r["set"] == s and r["result"]]
                    for s in range(SETS)]
            if any(len(v) < 1 for v in sets):
                continue
            a, b = statistics.median(sets[0]), statistics.median(sets[1])
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            pooled = [v for vs in sets for v in vs]
            sp = spread(pooled) if len(pooled) >= 2 else 0.0
            verdict = "ok"
            if worse > m["bound"] or sp > m["bound"]:
                verdict, bad = "OVER BOUND", bad + 1
            elif sp > m["bound"] / 3:
                verdict = "spread > bound/3"
            print(f"{w:18} {m['name']:12} {a:10.4g} {b:10.4g} {worse:+8.3f} "
                  f"{sp:7.3f} {m['bound']:6.3f}  {verdict}")

    # same seed, same code: identical outputs across the sets
    by_seed: dict = {}
    for r in runs:
        by_seed.setdefault((r["workload"], r["seed"]), set()).add(
            json.dumps(r["diag"].get("digests"), sort_keys=True))
    for key, digests in sorted(by_seed.items()):
        if len(digests) > 1:
            bad += 1
            print(f"DIGEST MISMATCH {key}: {sorted(digests)}")

    # levelling: the discarded first warm repeat against the kept one(s)
    for w in workloads:
        ratios = [r["diag"]["warm_samples_s"][0] / statistics.median(r["diag"]["warm_samples_s"][1:])
                  for r in runs if r["workload"] == w and len(r["diag"].get("warm_samples_s", [])) > 1]
        if ratios:
            print(f"{w}: first warm repeat / kept repeats, median over runs "
                  f"{statistics.median(ratios):.3f} (n={len(ratios)})")
    if args.levelling:
        for w in workloads:
            r = one_run(w, seeds[0], args.levelling)
            samples = r["diag"].get("warm_samples_s", [])
            print(f"{w}: {len(samples)} warm repeats over {args.levelling} s: "
                  + " ".join(f"{v:.2f}" for v in samples))
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
