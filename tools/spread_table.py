#!/usr/bin/env python3
"""Per-scan round-robin spread table from two sets of formatted plans.

Reads the `explain("formatted")` files that `graft.tools.PlanDump`
(registry queries) and the test-tree `graft.ActionPlanDump` (DAG
actions, and the share checkpoints a registry query runs while it is
built) write, finds every parquet scan, and reports whether the first
exchange above it is a round-robin repartition (the fact-scan spread).

Usage: spread_table.py <before_dirs> <after_dirs> > table.tsv
(each side a comma-separated list of plan directories)

One row per (plan, table): scans of that table in the plan (summed over
all actions of a DAG run) and how many
of them are spread, before and after; a `changed` column marks rows
whose spread count differs. Fact tables (orders, lineitem, events) get a
row always, other tables only when either side spreads them.
"""
import os
import re
import sys

NODE = re.compile(r"^([ :|+\-]*)(\S.*?) \((\d+)\)$")
FACTS = ("orders", "lineitem", "events")


def scans(path):
    """{table: [spread?, ...]} for every parquet scan in one plan file."""
    text = open(path).read()
    args = {}
    for m in re.finditer(r"^\((\d+)\) ([^\n]*)\n(.*?)(?=^\(\d+\) |\Z)", text, re.M | re.S):
        args[m.group(1)] = (m.group(2).strip(), m.group(3))
    out = {}
    stack = []  # (depth, name, id) of the current root-to-node path
    for line in text.splitlines():
        m = NODE.match(line)
        if not m:
            if not line.strip():
                stack = []
            continue
        depth, name, nid = len(m.group(1)), m.group(2).strip(), m.group(3)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if name.startswith("Scan parquet"):
            loc = re.search(r"Location: \S+ \[file:([^\],]*)", args.get(nid, ("", ""))[1])
            path = loc.group(1).rstrip("/").split("/") if loc else ["?"]
            # a testdata table by name, a DAG layer by its last two dirs
            table = path[-1][:-len(".parquet")] if path[-1].endswith(".parquet") else "/".join(path[-2:])
            spread = False
            for _, aname, aid in reversed(stack):
                if "Exchange" in aname:
                    spread = aname.startswith("Exchange") and \
                        "RoundRobinPartitioning" in args.get(aid, ("", ""))[1]
                    break
            out.setdefault(table, []).append(spread)
        stack.append((depth, name, nid))
    return out


def plan_name(f):
    """A registry query's returned-frame plan (`<q>_plan.txt`) and the
    plans of the actions it ran while being built (`<q>__<nn>_<action>.txt`)
    count as one plan; so do all actions of one DAG run
    (`<dag>_<nn>_<action>.txt`), whose numbering differs between
    commits that run different actions."""
    if f.startswith("q_"):
        return re.sub(r"__\d+_\w+\.txt$|_plan\.txt$", "", f)
    return f.split("_")[0] + " (DAG)"


def collect(dirs):
    out = {}
    for d in dirs:
        for f in os.listdir(d):
            # `rdd` actions are the parent's loaders probing their scan
            # partition count, not work of the plan
            if f.endswith(".txt") and not f.endswith("_rdd.txt"):
                for t, flags in scans(os.path.join(d, f)).items():
                    out.setdefault(plan_name(f), {}).setdefault(t, []).extend(flags)
    return out


def main(before, after):
    bs, as_ = collect(before.split(",")), collect(after.split(","))
    print("plan\ttable\tscans_before\tspread_before\tscans_after\tspread_after\tchanged")
    for p in sorted(set(bs) | set(as_)):
        b, a = bs.get(p, {}), as_.get(p, {})
        for t in sorted(set(b) | set(a)):
            sb, sa = sum(b.get(t, [])), sum(a.get(t, []))
            if t not in FACTS and sb == 0 and sa == 0:
                continue
            print(f"{p}\t{t}\t{len(b.get(t, []))}\t{sb}\t{len(a.get(t, []))}\t{sa}\t"
                  f"{'*' if sb != sa else ''}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
