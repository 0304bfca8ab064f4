"""The benchmark's own arithmetic: percentiles, interval unions, span self
time, the split of op time, job-group attribution and the parent-against-change pair rule.
Pure functions, tested by tests/test_stats.py."""
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between closest
    ranks, the method of statistics.quantiles(method='inclusive')."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values):
    """(first quartile, median, third quartile) as statistics.quantiles(n=4)
    gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once
    and empty or inverted intervals count nothing."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, start, end):
    """The intervals cut to the window [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals]


def self_times(spans):
    """Span id -> its duration minus the part of it that its child spans
    cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        kids = clipped(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_length(kids)
    return out


def split_op_time(op, children):
    """Split an op span's wall time into disjoint parts. `children` are its
    (kind, start, end, stage intervals) spans, a stage interval being the
    time a stage of that span's job group ran. Stage time inside execute
    and write spans is "executor", inside build and plan spans "eager_jobs";
    the rest of a build span is "construction", of a plan span "planning",
    and what remains of the op (no stage of the op running outside those
    spans) "dispatch". The parts sum to the op's wall time."""
    parts = dict.fromkeys(("executor", "eager_jobs", "construction", "planning"), 0.0)
    for kind, start, end, stages in children:
        staged = union_length(clipped(stages, start, end))
        if kind in ("execute", "write"):
            parts["executor"] += staged
        elif kind in ("build", "plan"):
            parts["eager_jobs"] += staged
            parts["construction" if kind == "build" else "planning"] += (end - start) - staged
    parts["dispatch"] = (op["end_ms"] - op["start_ms"]) - sum(parts.values())
    return parts


def attribute(records, spans):
    """Split job or stage records by the span whose job group they carry
    (`pb-<span id>`). Returns ({span id: [records]}, [unattributed])."""
    ids = {s["id"] for s in spans}
    by_span, loose = {}, []
    for r in records:
        g = r.get("group", "")
        sid = int(g[3:]) if g.startswith("pb-") and g[3:].isdigit() else None
        if sid in ids:
            by_span.setdefault(sid, []).append(r)
        else:
            loose.append(r)
    return by_span, loose


def pair_verdict(parent, change, better, bound):
    """Compare one metric over alternating parent/change pairs.

    `parent` and `change` are equal-length lists, pair i being
    (parent[i], change[i]). The change wins when it is better in at least
    9 of 10 pairs (ties count for neither) and the medians differ by more
    than the parent's interquartile range. Without a win the metric is
    "unresolved" when either side's spread (interquartile range over
    median) exceeds the bound, "regressed" when the change's median is
    worse by more than the bound, and "unchanged" otherwise."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need equal, non-empty pair lists")
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gap = sign * (cm - pm)
    spread = max((p3 - p1) / abs(pm) if pm else 0.0,
                 (c3 - c1) / abs(cm) if cm else 0.0)
    if wins * 10 >= 9 * len(parent) and gap > (p3 - p1):
        verdict = "win"
    elif spread > bound:
        verdict = "unresolved"
    elif pm and -gap / abs(pm) > bound:
        verdict = "regressed"
    else:
        verdict = "unchanged"
    return {"verdict": verdict, "wins": wins, "pairs": len(parent),
            "parent": {"q1": p1, "median": pm, "q3": p3},
            "change": {"q1": c1, "median": cm, "q3": c3}}
