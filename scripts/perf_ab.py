#!/usr/bin/env python3
"""Interleaved A/B of graft's benchmark between two checkouts.

    git clone -q . ../graft-parent && git -C ../graft-parent checkout -q HEAD~1
    python3 scripts/perf_ab.py --parent ../graft-parent --change . \\
        --workload live_steady --pairs 10 --seed 7101 --out AB.json

Each pair runs `perfbench/run.py` once in each checkout with the same
seed and run length, alternating which side runs first (even pairs:
parent first). The first run in a checkout also builds it. For every
workload and end-to-end metric in the change's `BENCHMARK.json` it
prints each side's quartiles and median and the pairwise win count, and
applies the gain rule: the change wins at least nine tenths of the
pairs (ties count for neither side) and the medians differ, in the
better direction, by more than the parent's interquartile range.
`--traced-pairs K` then runs K pairs with `--trace 1` from
`--traced-seed` on (seed 1, as the committed traces in
`perfbench/traces/`) and prints the per-layer metrics that differ by
more than 5 %. Every run, its context line and its result go to
`--out`. Nothing under `perfbench/` is touched; each checkout runs its
own copy.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import time


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1] (as perfbench reports)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartiles(xs):
    return {"q1": pct(xs, 0.25), "median": pct(xs, 0.5), "q3": pct(xs, 0.75)}


def value(rec, name):
    """A metric of one run (run.py prints each as {"value", "unit"})."""
    return rec["metrics"][name]["value"]


def commit(checkout):
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=checkout,
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def run_one(checkout, workload, seed, seconds, trace, log_dir, tag):
    """One benchmark run; returns its record (context, result, wall time)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    log = os.path.join(log_dir, f"{tag}.log")
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                           stderr=err, text=True, timeout=1800)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    rec = {"exit": p.returncode, "wall_s": round(time.time() - t0, 1), "log": log}
    try:
        rec["context"] = json.loads(lines[-2]) if len(lines) > 1 else None
        rec.update(json.loads(lines[-1]))
    except (IndexError, ValueError):
        rec.update({"correct": False, "attempted": 0, "failed": 0, "metrics": {}})
    return rec


def summarize(runs, workload, metrics):
    """Per-metric quartiles, medians and pairwise wins of change over parent."""
    by_pair = {}
    for r in runs:
        if r["workload"] == workload and r["trace"] == 0:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r
    pairs = [p for p in by_pair.values() if {"parent", "change"} <= set(p)
             and p["parent"]["correct"] and p["change"]["correct"]]
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [value(p["parent"], name) for p in pairs]
        chg = [value(p["change"], name) for p in pairs]
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        losses = sum(1 for a, b in zip(par, chg) if (b > a if lower else b < a))
        qp, qc = quartiles(par), quartiles(chg)
        gain = (qp["median"] - qc["median"]) if lower else (qc["median"] - qp["median"])
        out[name] = {
            "better": m["better"], "bound": m.get("bound"), "pairs": len(pairs),
            "parent": qp, "change": qc, "wins": wins, "losses": losses,
            "median_change_frac": (qc["median"] - qp["median"]) / qp["median"]
            if qp["median"] else None,
            "gain_rule_met": bool(pairs) and wins >= 0.9 * len(pairs)
            and gain > qp["q3"] - qp["q1"],
        }
    failed = {side: [r["failed"] / max(1, r["attempted"]) for p in pairs
                     for s, r in p.items() if s == side] for side in ("parent", "change")}
    return out, {s: max(v) if v else None for s, v in failed.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--traced-pairs", type=int, default=0)
    ap.add_argument("--traced-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--logs", default=None, help="directory for run logs")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    log_dir = os.path.abspath(a.logs or os.path.splitext(a.out)[0] + "_logs")
    os.makedirs(log_dir, exist_ok=True)
    record = {"sides": {s: {"dir": d, "commit": commit(d)} for s, d in sides.items()},
              "seconds": seconds, "runs": []}

    def save():
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)

    plan = [(w, i, a.seed + i, 0) for w in a.workload for i in range(a.pairs)]
    plan += [(w, a.pairs + i, a.traced_seed + i, 1)
             for w in a.workload for i in range(a.traced_pairs)]
    for workload, i, seed, trace in plan:
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            tag = f"{workload}-{i}-{side}-t{trace}"
            rec = run_one(sides[side], workload, seed, seconds, trace, log_dir, tag)
            rec.update({"workload": workload, "pair": i, "seed": seed,
                        "side": side, "first": order[0], "trace": trace})
            record["runs"].append(rec)
            save()
            print(f"# {tag}: seed {seed} correct={rec['correct']} "
                  f"failed={rec['failed']}/{rec['attempted']} wall={rec['wall_s']}s",
                  file=sys.stderr, flush=True)

    report(record, spec, a.workload)
    save()


def report(record, spec, workloads):
    """Print the summary of `record`'s runs and store it in the record."""
    record["summary"] = {}
    for w in workloads:
        summary, failed = summarize(record["runs"], w, spec["end_to_end"])
        record["summary"][w] = {"metrics": summary, "max_failed_frac": failed}
        print(f"\n{w}: max failed-op share parent {failed['parent']} change {failed['change']}")
        print(f"{'metric':16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
              f"{'med':>7} {'wins':>6} gain")
        for name, s in summary.items():
            qp, qc = s["parent"], s["change"]
            frac = s["median_change_frac"]
            print(f"{name:16} {qp['q1']:9.1f} {qp['median']:9.1f} {qp['q3']:9.1f}  "
                  f"{qc['q1']:9.1f} {qc['median']:9.1f} {qc['q3']:9.1f}  "
                  f"{(frac or 0) * 100:+6.1f}% {s['wins']:>2}/{s['pairs']:<3} "
                  f"{'met' if s['gain_rule_met'] else 'no'}")
        for r in record["runs"]:
            if r["workload"] != w or r["trace"] != 1 or r["side"] != "parent":
                continue
            c = next((x for x in record["runs"] if x["workload"] == w and x["trace"] == 1
                      and x["pair"] == r["pair"] and x["side"] == "change"), None)
            if c is None:
                continue
            print(f"\n{w} traced pair {r['pair']} (seed {r['seed']}): per-layer metrics "
                  "that differ by more than 5 %")
            for k in sorted(set(r["metrics"]) & set(c["metrics"])):
                p, q = value(r, k), value(c, k)
                if abs(q - p) > 0.05 * max(abs(p), abs(q), 1e-9):
                    print(f"  {k:36} {p:12.1f} -> {q:12.1f}")


if __name__ == "__main__":
    main()
