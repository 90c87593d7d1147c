#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root):

    python3 pipebench/check_spread.py --workload neardup_queries --seeds 1-10 [--trace 0]

For every metric: the median of the per-seed values and the
interquartile range as a share of the median (quartiles as
statistics.quantiles(values, n=4) gives them), next to the metric's
bound in BENCHMARK.json. Exits non-zero if a run fails or reports
correct=false.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values, ok = {}, True
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, str(ROOT / "pipebench" / "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}\n{r.stderr[-3000:]}")
            ok = False
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        ok &= res["correct"]
        for line in r.stderr.splitlines():
            if "sentinel" in line or "walls" in line or "stolen" in line:
                print(f"seed {s}: {line.strip()}")
        print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    out = ROOT / ".pipebench" / f"spread_{a.workload}_trace{a.trace}.json"
    out.write_text(json.dumps(values, indent=1))
    print(f"{'metric':32} {'median':>12} {'iqr/median':>10} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:32} {med:12.4f} {spread:10.4f} {bounds.get(k) or '':>6}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
