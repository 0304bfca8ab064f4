#!/usr/bin/env python3
"""Plan-drift detector: diff exchange/join node counts between two
PLANS_rN directories (the per-round `graft.Explain --out` artifacts).

Usage: python3 tools/plans_diff.py PLANS_r10 PLANS_r11

For every query present in BOTH dirs, counts physical-plan node classes
in the tree header (shuffle Exchange, BroadcastExchange, each join kind,
Sort) and fails loudly (exit 1) if any count GREW — a plan regression
the bench might hide behind environment noise. Queries present in only
one dir are reported informationally (heaviest-10 membership churns as
the board grows).

Each compared query also reads `text=same` or `text=differs`: whether
the two full plan texts are identical once the ids that vary from run to
run are masked (expression ids, plan_id, RDD ids and call sites, lambda
variable names). A refactor that claims identical plans should read
`same` everywhere; this does not change the exit code.
"""
import os
import re
import sys

# Node classes worth tracking: a growth in any of these is a plan
# regression (more shuffles, a broadcast that became a shuffle join, a
# new sort). Counted on the indented tree header only (before the
# per-node detail sections).
PATTERNS = {
    "shuffle_exchange": re.compile(r"\bExchange\b(?!.*Broadcast)"),
    "broadcast_exchange": re.compile(r"\bBroadcastExchange\b"),
    "sort_merge_join": re.compile(r"\bSortMergeJoin\b"),
    "shuffled_hash_join": re.compile(r"\bShuffledHashJoin\b"),
    "broadcast_hash_join": re.compile(r"\bBroadcastHashJoin\b"),
    "bnlj": re.compile(r"\bBroadcastNestedLoopJoin\b"),
    "cartesian": re.compile(r"\bCartesianProduct\b"),
    # Leading connectors OR a bare/codegen-starred root line ("Sort (3)",
    # "* Sort (3)") — the old [+:]-anchored form missed a top-level Sort.
    "sort": re.compile(r"^[\s+:\-*]*Sort\b"),
}


# Run-varying tokens, each replaced by a fixed stand-in before comparing
# two plan texts.
MASKS = [
    (re.compile(r"#\d+"), "#N"),                                  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at [^,\]]*"), "RDD[N] at <call site>"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_N"),         # x_12 -> x_N
]


def masked(path):
    with open(path) as f:
        text = f.read()
    for pat, sub in MASKS:
        text = pat.sub(sub, text)
    return text


def counts(path):
    tree = []
    with open(path) as f:
        for line in f:
            if line.startswith("(") and ") " in line[:8]:
                break  # per-node detail section begins
            tree.append(line)
    out = {}
    for name, pat in PATTERNS.items():
        out[name] = sum(1 for ln in tree if pat.search(ln))
    return out


def main():
    old_dir, new_dir = sys.argv[1], sys.argv[2]
    old = {f[:-4]: counts(os.path.join(old_dir, f))
           for f in os.listdir(old_dir) if f.endswith(".txt")}
    new = {f[:-4]: counts(os.path.join(new_dir, f))
           for f in os.listdir(new_dir) if f.endswith(".txt")}
    common = sorted(set(old) & set(new))
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    regressions = []
    differing = 0
    for q in common:
        grew = {k: (old[q][k], new[q][k]) for k in PATTERNS
                if new[q][k] > old[q][k]}
        same = (masked(os.path.join(old_dir, q + ".txt"))
                == masked(os.path.join(new_dir, q + ".txt")))
        differing += not same
        text = "text=same" if same else "text=differs"
        if grew:
            regressions.append((q, grew))
            print(f"GROWTH {q}: " + ", ".join(
                f"{k} {a}->{b}" for k, (a, b) in sorted(grew.items())) + f"  {text}")
        else:
            print(f"ok     {q}  {text}")
    for q in only_old:
        print(f"gone   {q} (dropped out of heaviest set)")
    for q in only_new:
        print(f"new    {q} (entered heaviest set — no prior to diff)")
    print(f"\n{len(common)} compared, {len(regressions)} with node growth, "
          f"{differing} with masked text differences")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
