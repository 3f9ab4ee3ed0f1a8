#!/usr/bin/env python3
"""Compare a change against its parent on the graft benchmark.

    python3 perfbench/compare.py --parent <checkout> --change <checkout> [--out <runs.jsonl>]

Both checkouts must hold byte-identical perfbench/ directories and
BENCHMARK.json, so the two sides run the same benchmark code and settings.
For each workload it runs ten pairs of untraced runs, one per side, on
seeds 1000 to 1009; the side that runs first alternates from pair to
pair. The runs of this comparison are written to
.bench_build/compare-runs.jsonl (or the file given with --out), replacing
what the file held.

For each workload and end-to-end metric it prints one row: each side's
median and quartiles, the ratio of the medians with its base, the pairs
the change won (ties count for neither side) and a verdict:

  gain          the change won at least 9 of 10 pairs and the medians
                differ by more than the parent's quartile spread
  worse         the change's median is worse than the parent's by more
                than the metric's bound
  within bound  the change's median is no worse than the bound allows
  unresolved    the parent's own quartile spread exceeds the bound, and
                not every change run beats every parent run

A gain does not count when the change failed more operations than the
parent; the row then says so.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10
BASE_SEED = 1000


def tree_hash(root):
    h = hashlib.sha256()
    paths = [os.path.join(root, "BENCHMARK.json")]
    for d, dirs, fs in os.walk(os.path.join(root, "perfbench")):
        dirs[:] = [x for x in dirs if x != "target" and not (x == "project" and d.endswith("project"))]
        paths.extend(os.path.join(d, f) for f in fs)
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_once(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{root}: {' '.join(cmd)} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(v):
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(metric, parent, change, failed_more):
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    all_better = all(better(c, p) for c in change for p in parent)
    if wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1) and better(cm, pm):
        v = "gain" + (" (not counted: more failed operations)" if failed_more else "")
    elif (p3 - p1) / pm > metric["bound"] and not all_better:
        v = "unresolved"
    elif worse_by > metric["bound"]:
        v = "worse"
    else:
        v = "within bound"
    return (p1, pm, p3), (c1, cm, c3), wins, v


def report(rows, spec):
    for w in [x["name"] for x in spec["workloads"]]:
        side = {s: [r["result"] for r in rows if r["workload"] == w and r["side"] == s]
                for s in ("parent", "change")}
        fp = sum(r["failed"] for r in side["parent"])
        fc = sum(r["failed"] for r in side["change"])
        print(f"{w}: {PAIRS} pairs; failed operations parent {fp}, change {fc}")
        for m in spec["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in side["parent"]]
            cv = [r["metrics"][m["name"]]["value"] for r in side["change"]]
            (p1, pm, p3), (c1, cm, c3), wins, v = verdict(m, pv, cv, fc > fp)
            print(f"  {m['name']:<12} parent {pm:.4g} [{p1:.4g}, {p3:.4g}] {m['unit']}"
                  f"  change {cm:.4g} [{c1:.4g}, {c3:.4g}] {m['unit']}"
                  f"  ratio {cm / pm:.3f} of parent {pm:.4g} {m['unit']}"
                  f"  wins {wins}/{PAIRS}  bound {m['bound']:.0%}  {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(HERE), ".bench_build", "compare-runs.jsonl"))
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    roots = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    if tree_hash(roots["parent"]) != tree_hash(roots["change"]):
        sys.exit("the two checkouts hold different benchmark code (perfbench/ or BENCHMARK.json)")
    rows = []
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as out:
        for w in [x["name"] for x in spec["workloads"]]:
            for i in range(PAIRS):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for s in order:
                    res = run_once(roots[s], w, BASE_SEED + i, spec["run_seconds"])
                    row = {"workload": w, "pair": i, "side": s, "seed": BASE_SEED + i, "result": res}
                    rows.append(row)
                    out.write(json.dumps(row) + "\n")
                    out.flush()
    report(rows, spec)


if __name__ == "__main__":
    main()
