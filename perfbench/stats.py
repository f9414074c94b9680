"""Statistics over the harness's raw records: percentiles, span self
times, and attribution of Spark jobs and Catalyst phases to the op spans
they ran under."""
import bisect
from collections import defaultdict


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover (children clipped to the parent, overlaps counted once).
    `spans` are dicts with id, parent, t0, t1."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - _covered(children[s["id"]], s["t0"], s["t1"])
            for s in spans}


def attach(spans, name, t0, t1, next_id):
    """A synthetic span for an event timed outside the tracer (a Catalyst
    phase): parented to the deepest span whose interval holds its start, or
    None when no op was running."""
    holders = [s for s in spans if s["t0"] <= t0 <= s["t1"]]
    if not holders:
        return None
    parent = max(holders, key=lambda s: (s["t0"], -s["t1"]))
    return {"op": parent["op"], "id": next_id, "parent": parent["id"], "name": name,
            "t0": t0, "t1": min(max(t1, t0), parent["t1"])}


class OpIndex:
    """Maps a timestamp (µs) to the op whose root span covers it."""

    def __init__(self, roots):
        self.roots = sorted(roots, key=lambda s: s["t0"])
        self.starts = [s["t0"] for s in self.roots]

    def op_at(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.roots[i]["t1"]:
            return self.roots[i]["op"]
        return None


def per_op_spark(jobs, stages, index):
    """Spark counters summed per op: a job belongs to the op running when it
    was submitted; a stage to the first job that lists it."""
    by_stage = {s["stage"]: s for s in stages}
    owner, out = set(), defaultdict(lambda: defaultdict(float))
    for j in sorted(jobs, key=lambda j: j["job"]):
        op = index.op_at(j["submit_ms"] * 1000)
        if op is None:
            continue
        acc = out[op]
        acc["jobs"] += 1
        for sid in j["stages"]:
            if sid in owner or sid not in by_stage:
                continue
            owner.add(sid)
            st = by_stage[sid]
            acc["stages"] += 1
            for k in ("tasks", "run_ms", "scheduler_delay_ms", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "result_bytes", "records_read"):
                acc[k] += st[k]
    return out
