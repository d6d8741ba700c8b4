"""Span accounting: a span's self time is its duration minus the part of
its interval that its child spans cover (overlapping children count once)."""
from collections import defaultdict


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], each clipped to
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
    """{span id: self time} for spans given as dicts with id, parent,
    start_ms and end_ms (times in ms, results in ms)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(children.get(s["id"], ()), s["start_ms"],
                           s["end_ms"])
            for s in spans}


def self_by_name(spans):
    """{span name: summed self time in ms}."""
    own = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        out[s["name"]] += own[s["id"]]
    return dict(out)


def pass_spans(record, bench_spans):
    """All spans of one traced pass: the benchmark's own spans plus job and
    stage spans derived from the listener records. Ids are made unique
    across the three sources."""
    out = [dict(s, id=f"b{s['id']}", parent=f"b{s['parent']}")
           for s in bench_spans if s["pass"] == record["pass"]]
    for j in record.get("jobs", ()):
        out.append({"id": f"j{j['id']}", "name": "job",
                    "parent": f"b{j['span']}", "start_ms": j["start_ms"],
                    "end_ms": j["end_ms"]})
    for st in record.get("stages", ()):
        out.append({"id": f"s{st['id']}", "name": "stage",
                    "parent": f"j{st['job']}", "start_ms": st["submit_ms"],
                    "end_ms": max(st["done_ms"], st["submit_ms"])})
    return out
