"""Spans and per-layer self time.

A span is a dict with `id`, `parent`, `name`, `layer`, `start` and `end`
(epoch milliseconds). A span's self time is its duration minus the part
of its interval that its child spans cover; a layer's self time is the
sum over its spans.
"""


class Spans:
    """Spans recorded by the load generator, kept in memory."""

    def __init__(self, enabled):
        self.enabled = enabled
        self.items = []

    def add(self, sid, parent, name, layer, start_s, end_s):
        if self.enabled:
            self.items.append({"id": sid, "parent": parent, "name": name,
                               "layer": layer, "start": start_s * 1e3,
                               "end": end_s * 1e3})


def _covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
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
    """Self time in ms per layer."""
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        dur = max(0.0, s["end"] - s["start"])
        own = dur - _covered(s["start"], s["end"], children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


