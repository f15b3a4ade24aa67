#!/usr/bin/env python3
"""A traced run of one workload next to an untraced run of the same seed.

    python3 perfbench/trace_report.py --workload live_steady --seed 1 [--seconds 20]

Runs the workload untraced, then traced, and writes
perfbench/traces/<workload>.json: the run context of both, the
end-to-end metrics of both, the tracing overhead (traced minus untraced,
and as a share of untraced), every per-layer metric of the traced run
with its self time per layer, and a span count per layer. The spans
themselves stay in .bench_build/traces/<workload>-<seed>.json.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(ROOT, ".bench_build", "results",
                           f"{workload}-{seed}-{trace}.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    with open(os.path.join(ROOT, ".bench_build", "traces",
                           f"{a.workload}-{a.seed}.json")) as f:
        spans = json.load(f)["spans"]
    counts = {}
    for s in spans:
        counts[s["layer"]] = counts.get(s["layer"], 0) + 1
    e0, e1 = plain["end_to_end"], traced["end_to_end"]
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "context": {"untraced": plain["context"], "traced": traced["context"]},
        "end_to_end": {"untraced": e0, "traced": e1},
        "tracing_overhead": {k: {"delta": e1[k] - e0[k],
                                 "share": (e1[k] - e0[k]) / e0[k] if e0[k] else None}
                             for k in e0},
        "self_ms": {k[len("self."):-len("_ms")]: v
                    for k, v in traced["per_layer"].items() if k.startswith("self.")},
        "spans_per_layer": counts,
        "per_layer": traced["per_layer"],
        "correct": plain["result"]["correct"] and traced["result"]["correct"],
    }
    out = os.path.join(BENCH, "traces", f"{a.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
