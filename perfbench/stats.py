"""Statistics behind perfbench/run.py: medians and tail percentiles, span
self times and trees, and the result-line check.

Pure functions, kept apart from the process handling so
perfbench/test_stats.py can check them without Spark.
"""

import json
import math
import statistics


def median(xs):
    """Median of a non-empty sample (mean of the middle two when even)."""
    return statistics.median(xs)


# Percentiles considered for a tail figure, highest first.
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75)


def tail_percentile(n):
    """The highest percentile with at least ten of `n` samples beyond it,
    or None when there is none (fewer than 40 samples)."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10 - 1e-9:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile `p` (0 < p <= 100) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, each clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Returns {span id: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_ms(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def nest_in_steps(spans):
    """Spans whose parent is an operation and whose start lies inside one
    of that operation's `step.*` spans are re-parented to that step: the
    job's local property names the operation, and time containment
    finds the step. Returns new span dicts."""
    steps = {}
    for s in spans:
        if s["name"].startswith("step."):
            steps.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        inner = [t for t in steps.get(s["parent"], ())
                 if t is not s and t["start"] <= s["start"] <= t["end"]]
        out.append(dict(s, parent=inner[0]["id"]) if inner else s)
    return out


def span_tree(spans):
    """Nested {name, start, end, self_ms, children} trees, one per root."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    ids = {s["id"] for s in spans}
    st = self_times(spans)

    def node(s):
        kids = sorted(by_parent.get(s["id"], []), key=lambda k: k["start"])
        return {"name": s["name"], "op": s["op"],
                "start": round(s["start"], 3), "end": round(s["end"], 3),
                "self_ms": round(st[s["id"]], 3),
                "children": [node(k) for k in kids]}
    roots = [s for s in spans if s["parent"] not in ids]
    return [node(r) for r in sorted(roots, key=lambda r: r["start"])]


def parse_result_line(text):
    """The result object from a run's standard output: the last line,
    which must be one JSON object with exactly the contract's keys."""
    lines = [l for l in text.splitlines() if l.strip()]
    if not lines:
        raise ValueError("no output")
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("unexpected keys %s" % sorted(obj))
    if not isinstance(obj["attempted"], int) or obj["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(obj["failed"], int) or obj["failed"] < 0:
        raise ValueError("failed must be a whole number >= 0")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(
                m["value"], (int, float)):
            raise ValueError("bad metric %s" % name)
    return obj
