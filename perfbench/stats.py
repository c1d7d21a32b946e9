"""The benchmark's arithmetic: medians, span self time, the union of job
intervals, and op-to-module attribution. Kept free of I/O so
`test_stats.py` can pin every rule."""
import statistics


def median(xs):
    """Median with its sample count: {"value": m, "n": len(xs)}."""
    if not xs:
        raise ValueError("median of no samples")
    return {"value": statistics.median(xs), "n": len(xs)}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], each clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_time(lo, hi, jobs):
    """Wall time in [lo, hi] during which no Spark job was running: the
    driver-side share (planning, orchestration, result handling)."""
    return (hi - lo) - union_length(jobs, lo, hi)


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with keys id,
    start, end, parent. Returns {id: self_time}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def module_index(modules):
    """{op name: module} from {module: [op names]}; each op is attributed
    to the module whose ops list holds it, and is also found by its short
    `qNN` prefix."""
    idx = {}
    for mod, ops in modules.items():
        for name in ops:
            if name in idx and idx[name] != mod:
                raise ValueError(f"{name} listed by {idx[name]} and {mod}")
            idx[name] = mod
            idx.setdefault(name.split("_", 1)[0], mod)
    return idx


def layer_of(group, index):
    """The layer a job group belongs to: the module of the op named by
    the group, else the engine itself (jobs the harness runs untagged)."""
    return index.get(group, "spark")
