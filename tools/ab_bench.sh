#!/usr/bin/env bash
# Interleaved same-window A/B bench (VERDICT r16 item 3).
#
# The box runs warm with co-tenant bursts, so raw boards from different
# hours mislead by ±7-8%; the controlled instrument is an INTERLEAVED
# A/B in one window: build a reference commit in a worktree, alternate
# HEAD and ref runs (A-B-A-B) over the top-K heaviest queries with one
# bench pass each, take min-of-passes per side, and report the paired
# ratio. Ambient drift hits both sides; the ratio is the signal.
#
#   usage: tools/ab_bench.sh <ref-commit> [topk=20] [passes=2] [sfdir=/root/testdata/sf0.1]
#
# Artifacts: bench/ab_head_<ts>_p<i>.json, bench/ab_ref_<ts>_p<i>.json
# (full Bench JSON lines) and bench/ab_summary_<ts>.json (paired
# ratios). Prints the adjudication table.
#
# Invariants the recipe depends on:
#  - builds and runs are SEQUENTIAL (never two sbt processes at once);
#  - SPARK_GRAFT_ONLY keeps Bench from writing stamped full-board
#    copies; per-run lines land where SPARK_GRAFT_BENCH_OUT points.
set -euo pipefail

REF="${1:?usage: tools/ab_bench.sh <ref-commit> [topk] [passes] [sfdir]}"
TOPK="${2:-20}"
PASSES="${3:-2}"
SFDIR="${4:-/root/testdata/sf0.1}"
# 32 to match the full boards and the r16 hand-driven recipe: Bench's
# loaded_start/loaded_mid bands are ABSOLUTE, calibrated for the
# 32-thread sentinel — at 8 CPUs the par sentinel runs ~4x longer and
# every run false-flags
CPUS="${SPARK_GRAFT_CPUS:-32}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
TS="$(date -u +%Y%m%dT%H%M%SZ)"
# the reference worktree lives under the checkout, in the git-ignored
# .ab/ directory, so the recipe needs no write access outside the repo
WT="$REPO/.ab/ref_$TS"
mkdir -p "$REPO/bench"

# ---- pick the top-K heaviest queries from the newest full board ----
QUERIES="$(python3 - "$REPO" "$TOPK" <<'EOF'
import glob, json, os, sys
repo, k = sys.argv[1], int(sys.argv[2])
boards = sorted(glob.glob(os.path.join(repo, "bench", "bench_times_*.json")),
                key=os.path.getmtime)
if not boards:
    sys.exit("no bench/bench_times_*.json board to rank queries from — "
             "run a full Bench once first")
qs = json.load(open(boards[-1]))["queries"]
top = sorted(qs.items(), key=lambda kv: -kv[1])[:k]
print(",".join(name for name, _ in top))
EOF
)"
echo "[ab] ranking board -> top $TOPK: $QUERIES"

# ---- worktree with the reference commit, builds SEQUENTIAL ----
cleanup() { git -C "$REPO" worktree remove --force "$WT" 2>/dev/null || true; }
trap cleanup EXIT
git -C "$REPO" worktree add --detach "$WT" "$REF" >/dev/null
echo "[ab] worktree $WT @ $(git -C "$WT" rev-parse --short HEAD)"
(cd "$REPO" && sbt -batch compile >/dev/null)
(cd "$WT" && sbt -batch compile >/dev/null)
echo "[ab] both sides compiled"

run_side() { # dir label pass
  local dir="$1" label="$2" pass="$3"
  local out="$REPO/bench/ab_${label}_${TS}_p${pass}.json"
  (cd "$dir" && \
    SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS" \
    SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_BENCH_RUNS=1 \
    SPARK_GRAFT_BENCH_OUT="$out" \
    sbt -batch "runMain graft.Bench" >/dev/null)
  python3 -c "import json,sys; d=json.load(open('$out')); \
    print(f'[ab] $label p$pass total={d[\"value\"]}s cal={d[\"cal_pre\"]}/{d[\"cal_post\"]}')"
}

# ---- A-B-B-A in one window: alternate which side goes first so the
# ---- cold-start / cache-warm edge cancels across passes ----
for p in $(seq 1 "$PASSES"); do
  if [ $((p % 2)) -eq 1 ]; then
    run_side "$REPO" head "$p"
    run_side "$WT" ref "$p"
  else
    run_side "$WT" ref "$p"
    run_side "$REPO" head "$p"
  fi
done

# ---- paired adjudication: min-of-passes per side, ratio table ----
python3 - "$REPO" "$TS" "$PASSES" <<'EOF'
import json, statistics, sys
repo, ts, passes = sys.argv[1], sys.argv[2], int(sys.argv[3])
def best(label):
    runs = [json.load(open(f"{repo}/bench/ab_{label}_{ts}_p{p}.json"))
            for p in range(1, passes + 1)]
    qs = {q: min(r["queries"][q] for r in runs) for q in runs[0]["queries"]}
    flags = [f for r in runs for f in ("loaded_start", "loaded_mid") if r.get(f)]
    return qs, flags
head, hf = best("head")
ref, rf = best("ref")
ratios = {q: head[q] / ref[q] for q in head if q in ref and ref[q] > 0}
total = sum(head.values()) / sum(ref.values())
med = statistics.median(ratios.values())
movers = sorted(ratios.items(), key=lambda kv: -abs(kv[1] - 1))[:6]
summary = {"ts": ts, "passes": passes, "total_ratio": round(total, 3),
           "median_ratio": round(med, 3),
           "head_total": round(sum(head.values()), 3),
           "ref_total": round(sum(ref.values()), 3),
           "flags": {"head": hf, "ref": rf},
           "ratios": {q: round(r, 3) for q, r in sorted(ratios.items())}}
out = f"{repo}/bench/ab_summary_{ts}.json"
json.dump(summary, open(out, "w"), indent=1)
print(f"\n[ab] HEAD/ref total = {total:.3f}x  median = {med:.3f}x  "
      f"(head {sum(head.values()):.1f}s vs ref {sum(ref.values()):.1f}s)")
print("[ab] top movers: " + "  ".join(f"{q}={r:.2f}x" for q, r in movers))
if hf or rf:
    print(f"[ab] WARNING sentinel flags fired: head={hf} ref={rf} — "
          "rerun; a flagged side poisons the pairing")
print(f"[ab] summary -> {out}")
EOF
