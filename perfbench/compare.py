#!/usr/bin/env python3
"""Parent-against-change comparison with the benchmark:

    python3 perfbench/compare.py --parent DIR --change DIR \\
        [--workload W ...] [--pairs 10] [--seed 1] [--out FILE]

DIR is the root of a checkout of each side; each side runs its own
perfbench/run.py, and the two copies of the benchmark must be identical.
For every workload it runs `pairs` alternating pairs (pair i runs seed+i on
both sides, parent first on even i, change first on odd i), then one traced
run per side. It prints one row per workload and end-to-end metric: each
side's median and quartiles, the pairs the change won, and the verdict of
stats.pair_verdict against the metric's bound in BENCHMARK.json. Per-layer
counts (unit "count" or "bytes") are printed side by side as exact numbers.
"""
import argparse
import filecmp
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def bench_files(root):
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    out = ["BENCHMARK.json"]
    for p in spec["paths"]:
        for d, dirs, fs in os.walk(os.path.join(root, p)):
            dirs[:] = [x for x in dirs if not x.startswith(".") and x not in ("target", "project")]
            out += [os.path.relpath(os.path.join(d, f), root) for f in fs
                    if not f.endswith(".pyc")]
    return spec, sorted(out)


def run_once(root, spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{root}: {' '.join(cmd)} exited with {p.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec, files = bench_files(a.parent)
    _, change_files = bench_files(a.change)
    if files != change_files or any(not filecmp.cmp(os.path.join(a.parent, f),
                                                    os.path.join(a.change, f), shallow=False)
                                    for f in files):
        sys.exit("the benchmark differs between the two checkouts")
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                root = a.parent if side == "parent" else a.change
                runs[side].append(run_once(root, spec, w, a.seed + i, 0))
        rows = []
        for m in spec["end_to_end"]:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in runs[s]] for s in runs}
            v = stats.pair_verdict(vals["parent"], vals["change"], m["better"], m["bound"])
            rows.append(dict(v, metric=m["name"], unit=m["unit"]))
            print(f"{w:14s} {m['name']:18s} parent {v['parent']['median']:12.4f} "
                  f"[{v['parent']['q1']:.4f}, {v['parent']['q3']:.4f}]  change "
                  f"{v['change']['median']:12.4f} [{v['change']['q1']:.4f}, "
                  f"{v['change']['q3']:.4f}]  wins {v['wins']}/{v['pairs']}  {v['verdict']}")
        failed = {s: sum(r["failed"] for r in runs[s]) for s in runs}
        print(f"{w:14s} failed ops: parent {failed['parent']}, change {failed['change']}")
        traced = {s: run_once(a.parent if s == "parent" else a.change, spec, w, a.seed, 1)
                  for s in runs}
        counts = []
        for m in spec["per_layer"]:
            if m["unit"] in ("count", "bytes"):
                p, c = (traced[s]["metrics"][m["name"]]["value"] for s in ("parent", "change"))
                counts.append({"metric": m["name"], "parent": p, "change": c, "equal": p == c})
                print(f"{w:14s} {m['name']:34s} {p:>16.0f} {c:>16.0f} "
                      f"{'=' if p == c else 'differs'}")
        report[w] = {"end_to_end": rows, "failed": failed, "counts": counts,
                     "runs": runs, "traced": traced}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
