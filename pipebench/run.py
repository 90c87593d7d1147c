#!/usr/bin/env python3
"""Pipeline benchmark for graft: one workload, one seed, one JVM.

Usage (from the repository root):

    python3 pipebench/run.py --workload sales_nightly --seed 1 --seconds 35 --trace 0

Steps: build the harness and the engine from source (once per source
state), verify the committed input snapshot, stage a seed-permuted copy
of the workload's tables under .pipebench/, run the harness JVM, and
print one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Diagnostics (measured times, CPU
time stolen by the hypervisor, the load sentinel, failures) go to
standard error. --record rewrites the workload's expected output
digests instead of checking them.
"""
import argparse
import hashlib
import json
import os
import math
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".pipebench"
DATA = BENCH / "data" / "sf0.1"
EXPECTED = BENCH / "expected_digests.tsv"

SALES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
# tables to stage per workload, the multi-file tables among them, and
# the per-layer metric family the workload does not have (DAG jobs on a
# query workload, per-query times on a DAG workload): those read 0,
# while a missing metric of the workload's own families is an error
WORKLOADS = {
    "sales_nightly": (SALES, {"orders", "lineitem"}, ("query.",)),
    "neardup_queries": (["documents"], set(), ("dag.job", "dag.overlap")),
}
# the fact layout of tools.MakeSf1: many files, so the loaders' spread
# is bypassed
FACT_FILES = 32
# the root build's 24g default exceeds a 15 GB box; the floor, about
# what the workloads use, spares the early iterations the heap's growth
HEAP_MIN, HEAP = "2g", "4g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt; cache the runtime classpath."""
    out = STATE / "build"
    stamp, cp = out / "stamp", out / "classpath"
    want = source_stamp()
    if stamp.is_file() and cp.is_file() and stamp.read_text() == want:
        return cp.read_text().strip(), False
    out.mkdir(parents=True, exist_ok=True)
    log("building harness and engine (sbt)")
    tmp = out / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, capture_output=True, text=True,
                           timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(3, "build timed out")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(3, "build failed")
    cp.write_text(lines[-1].strip())
    stamp.write_text(want)
    return lines[-1].strip(), True


def verify_snapshot():
    sums = BENCH / "data" / "SHA256SUMS"
    if not sums.is_file():
        fail(2, f"missing input snapshot {sums}")
    for line in sums.read_text().splitlines():
        digest, name = line.split()
        f = DATA / name
        if not f.is_file() or hashlib.sha256(f.read_bytes()).hexdigest() != digest:
            fail(2, f"input snapshot file {f} missing or altered")


def stage(tables, multi, seed, dst):
    """Seed-permuted copy of each table. Single-file tables stay one file
    with one row group; multi-file tables become FACT_FILES files of one
    row group each. Only row order (and which rows share a file) depends
    on the seed, so every output digest is seed-independent."""
    dst.mkdir(parents=True)
    for i, t in enumerate(tables):
        table = pq.read_table(DATA / f"{t}.parquet")
        rng = np.random.default_rng([seed, i])
        table = table.take(rng.permutation(table.num_rows))
        if t in multi:
            d = dst / f"{t}.parquet"
            d.mkdir()
            bounds = np.linspace(0, table.num_rows, FACT_FILES + 1).astype(int)
            for k in range(FACT_FILES):
                part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
                pq.write_table(part, d / f"part-{k:05d}.parquet", row_group_size=max(1, part.num_rows))
        else:
            pq.write_table(table, dst / f"{t}.parquet", row_group_size=max(1, table.num_rows))


def vm_cpu():
    """This VM's CPU seconds so far, summed over its CPUs, from
    /proc/stat: (running, stolen by the hypervisor), as Box.cpu reads
    them in the harness."""
    with open("/proc/stat") as f:
        t = [int(x) / 100.0 for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def run_jvm(classpath, args, work, deadline):
    env = dict(os.environ)
    env["SPARK_GRAFT_BUDGET_DIR"] = str(work / "budget")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    for d in ("budget", "spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP_MIN}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.callstack.depth=60",
        "-cp", classpath, "pipebench.Harness"] + args
    logf = work / "jvm.log"
    with open(logf, "w") as out:
        cmd += ["--cpu0", "%.2f,%.2f" % vm_cpu()]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(4, "harness JVM exceeded the time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write(logf.read_text()[-6000:])
        fail(5, f"harness JVM exited with {code}")


def main():
    start = time.time()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record this run's output digests as the expected ones")
    ap.add_argument("--dump", help="also write the cold pass's query outputs and their "
                                   "oracle SQL to this directory (see oracle_check.py)")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not spec_file.is_file():
        fail(2, "run from a checkout of the graft repository (engine sources not found)")
    spec = json.loads(spec_file.read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    # the first run in a checkout may build (900 s); later runs must end
    # within 180 s
    classpath, built = build(start + 700)
    verify_snapshot()
    deadline = start + (890 if built else DEADLINE_S)

    STATE.mkdir(exist_ok=True)
    work = STATE / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        tables, multi, foreign = WORKLOADS[a.workload]
        phases = [("start", time.time())]
        stage(tables, multi, a.seed, work / "input")
        phases.append(("stage", time.time()))
        (STATE / "trace").mkdir(exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--input", str(work / "input"), "--work", str(work),
                "--src", str(ROOT / "src" / "main" / "scala"), "--expected", str(EXPECTED),
                "--result", str(work / "result.json"),
                "--spans", str(STATE / "trace" / f"{a.workload}.spans.json")]
        if a.record:
            args += ["--record", str(work / "digests.tsv")]
        if a.dump:
            args += ["--dump", str(Path(a.dump).resolve())]
        run_jvm(classpath, args, work, deadline)
        phases.append(("harness", time.time()))
        res = json.loads((work / "result.json").read_text())
        if a.record:
            keep = [l for l in (EXPECTED.read_text().splitlines() if EXPECTED.is_file() else [])
                    if not l.startswith(a.workload + "\t")]
            EXPECTED.write_text("\n".join(keep + (work / "digests.tsv").read_text().splitlines()) + "\n")
            log(f"recorded digests for {a.workload}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = dict(res["metrics"], **{"box.sentinel_s": res["sentinel"]["parallel_s"]})
    (STATE / "last").mkdir(exist_ok=True)
    (STATE / "last" / f"{a.workload}.trace{a.trace}.json").write_text(json.dumps(res, indent=1))
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None and m["name"].startswith(foreign):
            v = 0.0
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(6, f"harness reported no value for {m['name']}: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    log(f"run took {time.time() - start:.1f} s: "
        + " ".join(f"{n} {t - t0:.1f} s" for (_, t0), (n, t) in zip(phases, phases[1:])))
    walls = [round(it["wall_s"], 3) for it in res["iterations"]]
    log(f"measured iteration walls (cold first)={walls} setup_s={res['setup_s']}")
    steal = [round(it["steal_s"], 2) for it in res["iterations"]]
    log(f"VM CPU seconds stolen by the hypervisor per iteration={steal} in set-up={res['setup_steal_s']:.2f}")
    log(f"load sentinel after the run={res['sentinel']}")
    for f in res["failures"]:
        log(f"failure: {f}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
