#!/usr/bin/env python3
"""The benchmark's own checks of its traced run.

Usage (from the repository root):

    python3 pipebench/test_repeat.py [--workloads sales_nightly,neardup_queries] [--seed 7]

For each workload, two traced runs with the same seed must:
  - both report correct=true;
  - agree exactly on the counts that do not depend on timing: Spark
    jobs, stages and tasks, plan exchanges and broadcasts, near-dup
    candidates and verified pairs, files and bytes written;
  - report spark.busy_frac <= 1 and text.verified_pairs <= text.candidates.
Exits non-zero on the first violation.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXACT = ["spark.jobs", "spark.stages", "spark.tasks", "plan.exchanges", "plan.rr_exchanges",
         "plan.broadcasts", "text.candidates", "text.verified_pairs", "write.files", "write.mb"]


def traced_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, str(ROOT / "pipebench" / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload}: run failed (exit {r.returncode})\n{r.stderr[-3000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    return res, {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="sales_nightly,neardup_queries")
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    problems = []
    for w in a.workloads.split(","):
        (r1, m1), (r2, m2) = traced_run(w, a.seed, seconds), traced_run(w, a.seed, seconds)
        for r in (r1, r2):
            if not r["correct"] or r["failed"]:
                problems.append(f"{w}: correct={r['correct']} failed={r['failed']}")
        for k in EXACT:
            if m1[k] != m2[k]:
                problems.append(f"{w}: {k} differs between same-seed runs: {m1[k]} vs {m2[k]}")
        for m in (m1, m2):
            if m["spark.busy_frac"] > 1:
                problems.append(f"{w}: spark.busy_frac {m['spark.busy_frac']} > 1")
            if m["text.verified_pairs"] > m["text.candidates"]:
                problems.append(f"{w}: verified pairs {m['text.verified_pairs']} > "
                                f"candidates {m['text.candidates']}")
        print(f"{w}: " + " ".join(f"{k}={m1[k]:g}" for k in EXACT)
              + f" busy_frac={m1['spark.busy_frac']:.3f}/{m2['spark.busy_frac']:.3f}", flush=True)
    for p in problems:
        print("FAIL", p)
    if problems:
        sys.exit(1)
    print("ok")


if __name__ == "__main__":
    main()
