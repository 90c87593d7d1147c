#!/usr/bin/env python3
"""Cross-check the query workload's outputs against the DuckDB oracle.

Usage (from the repository root):

    python3 pipebench/oracle_check.py [--workloads neardup_queries] [--seed 1]

Runs each query workload once with --dump (its digests are checked
against expected_digests.tsv as in every run), then replays the
queries' oracle SQL (SparkEntry.oracleSql) in DuckDB over the input
snapshot and compares values with tools/selfcheck.py. A pass ties the
recorded digests to oracle-correct outputs. Exits non-zero on any
mismatch.
"""
import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "pipebench"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="neardup_queries")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        out = ROOT / ".pipebench" / "oracle" / w
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(a.seed),
                            "--seconds", "1", "--dump", str(out)], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0 or not json.loads(r.stdout.strip().splitlines()[-1])["correct"]:
            print(f"{w}: benchmark run failed or mismatched its recorded digests\n{r.stderr[-3000:]}")
            ok = False
            continue
        queries = sorted(json.loads((out / "oracle_sql.json").read_text()))
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "selfcheck.py"), str(BENCH / "data" / "sf0.1"),
                            str(out), "--only", ",".join(queries)], cwd=ROOT, capture_output=True, text=True)
        print(f"== {w}\n{r.stdout}{r.stderr[-2000:]}")
        ok &= r.returncode == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
