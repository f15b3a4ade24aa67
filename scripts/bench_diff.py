#!/usr/bin/env python3
"""Diff two bench artifacts (bench_full.json or a driver BENCH_r*.json
whose stdout tail still contains the JSON line). Prints per-query
deltas sorted by regression ratio, worst first. When both artifacts
carry per-query "layers", each flagged query's layers that moved are
listed after the table, so a wall-time delta names its layer.

Usage: bench_diff.py OLD NEW [threshold_ratio]
"""
import json
import re
import sys


def load(path):
    """(per-query seconds, per-query layers or None)."""
    data = json.load(open(path))
    if "queries" in data:                      # bench_full.json
        return data["queries"], data.get("layers")
    if isinstance(data.get("parsed"), dict):   # driver artifact, intact
        return data["parsed"]["queries"], data["parsed"].get("layers")
    if "tail" in data:                         # driver artifact, truncated
        out = {}
        for k, v in re.findall(r'"([a-z][a-z0-9_]{3,})":(-?\d+\.\d+)',
                               data["tail"]):
            out[k] = float(v)
        out.pop("value", None)
        return out, None
    raise SystemExit(f"no bench JSON found in {path}")


def layer_deltas(old, new):
    """'name a -> b (ratio)' for every layer whose value changed."""
    out = []
    for k in old:
        a, b = old[k], new.get(k)
        if b is None or a == b:
            continue
        r = f"{b / a:.2f}x" if a else "new"
        out.append(f"{k} {a:g} -> {b:g} ({r})")
    return ", ".join(out) or "no layer moved"


def main():
    (old, old_layers), (new, new_layers) = load(sys.argv[1]), load(sys.argv[2])
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    common = sorted(set(old) & set(new))
    gone = sorted(set(old) - set(new))
    added = sorted(set(new) - set(old))
    rows = [(new[q] / old[q] if old[q] > 0 else float("inf"), q) for q in common]
    rows.sort(reverse=True)
    print(f"| query | {sys.argv[1]} | {sys.argv[2]} | ratio |")
    print("|---|---|---|---|")
    flagged = []
    for r, q in rows:
        if r >= thresh or r <= 1 / thresh:
            print(f"| {q} | {old[q]:.3f} | {new[q]:.3f} | {r:.2f}x |")
            flagged.append(q)
    t_old = sum(old[q] for q in common)
    t_new = sum(new[q] for q in common)
    print(f"\ncommon: {len(common)} queries, {t_old:.1f}s -> {t_new:.1f}s "
          f"({t_new / t_old:.2f}x); {len(flagged)} outside [{1/thresh:.2f}, {thresh}]")
    if old_layers and new_layers:
        moved = [q for q in flagged if q in old_layers and q in new_layers]
        if moved:
            print("\nlayers of the flagged queries:")
        for q in moved:
            print(f"- {q}: {layer_deltas(old_layers[q], new_layers[q])}")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if gone:
        print(f"removed ({len(gone)}): {', '.join(gone)}")


if __name__ == "__main__":
    main()
