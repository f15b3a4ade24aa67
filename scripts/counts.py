#!/usr/bin/env python3
"""Derive the README's headline counts from the artifacts of record
instead of hand-writing them (round-6 verdict, task #4: hand counts
drift).

Usage: python3 scripts/counts.py
Reads bench_full.json (always) and the newest CORRECTNESS_r*.json
(driver-written, if any), prints a summary block to paste or diff
against README.md's "Current numbers", including the suite totals of
bench_full.json's per-query cost layers (jobs, planning, task run,
shuffle, spill) and the five queries with the most jobs.
"""
import glob
import json
import os
import re

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    bench = json.load(open(os.path.join(HERE, "bench_full.json")))
    n_bench = len(bench.get("queries", {}))
    errors = bench.get("errors", [])
    print(f"bench_full.json: {n_bench} queries, total {bench['value']}"
          f" {bench.get('unit', 's')}, errors: {errors or 'none'}")

    # Suite-level cost layers: Bench's per-query `layers` summed over
    # the suite, and the queries that run the most Spark jobs.
    layers = bench.get("layers", {})
    if layers:
        def tot(k):
            return sum(v.get(k, 0) for v in layers.values())
        print(f"  layers over {len(layers)} queries: jobs {tot('jobs')},"
              f" planning {tot('plan_ms')} ms,"
              f" task run {tot('task_run_s'):.1f} s,"
              f" shuffle read {tot('shuffle_read_bytes') / 1e6:.1f} MB /"
              f" write {tot('shuffle_write_bytes') / 1e6:.1f} MB,"
              f" spill {tot('spill_bytes') / 1e6:.1f} MB")
        top = sorted(layers.items(),
                     key=lambda kv: (-kv[1].get("jobs", 0), kv[0]))[:5]
        print("  most jobs: " + ", ".join(
            f"{q} {v.get('jobs', 0)} ({bench['queries'].get(q, '?')} s)"
            for q, v in top))

    # Spike transparency (round 11): with per-query pass_times in the
    # artifact, a co-tenant spike self-documents as ONE outlier pass.
    # Print the worst max/min pass ratios so a reader sees at a glance
    # which committed rows are one-pass noise.
    pts = bench.get("pass_times", {})
    if pts:
        la = bench.get("loadavg", {})
        print(f"  loadavg start={la.get('start')} end={la.get('end')}")
        ratios = []
        for q, ts in pts.items():
            ok = [t for t in ts if t >= 0]
            if len(ok) >= 2 and min(ok) > 0:
                ratios.append((max(ok) / min(ok), q, ok))
        ratios.sort(reverse=True)
        spiky = [r for r in ratios if r[0] >= 2.0]
        print(f"  pass-ratio outliers >=2x: {len(spiky)}")
        for ratio, q, ok in ratios[:8]:
            marker = " <-- one-pass spike" if ratio >= 2.0 else ""
            print(f"    {q}: passes {['%.2f' % t for t in ok]} "
                  f"ratio {ratio:.1f}x{marker}")

    # Soak outliers, same idea (round 12): the newest SOAK_r*.json
    # carries per-(query, scale) rep arrays; flag any measurement
    # whose reps disagree >=2x — its min is trustworthy but its
    # single-number history is not, and a reader comparing ratios
    # across rounds should know which rows were load-noisy.
    soaks = sorted(glob.glob(os.path.join(HERE, "SOAK_r*.json")),
                   key=lambda p: [int(x) for x in re.findall(r"\d+", os.path.basename(p))])
    # report every artifact of the newest round (the gated run plus
    # any _30x / _new companions), not just the lexicographic last
    if soaks:
        def soak_round(p):
            return int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        top_round = max(soak_round(p) for p in soaks)
        # match by the PARSED round, not substring containment — a
        # name like SOAK_r2_vs_r12.json must not collide (r12 advice)
        soaks = [p for p in soaks if soak_round(p) == top_round]
    for latest in soaks:
        d = json.load(open(latest))
        # SoakFold artifacts (round 14+) key their table as "rows"
        # with fold_reps/scratch_reps per row
        qs = d.get("queries", {}) or d.get("rows", {})
        la = d.get("loadavg")
        has_reps = any("base_reps" in v for v in qs.values())
        fold_reps = any("fold_reps" in v for v in qs.values())
        print(f"{os.path.basename(latest)}: {len(qs)} gated queries, "
              f"passes={d.get('passes', '?')}"
              + (f", loadavg start={la.get('start')} end={la.get('end')}"
                 if la else ""))
        if has_reps:
            spiky = []
            for q, v in qs.items():
                for scale in ("base", "sf1"):
                    reps = v.get(f"{scale}_reps", [])
                    if len(reps) >= 2 and min(reps) > 0 \
                            and max(reps) / min(reps) >= 2.0:
                        spiky.append((max(reps) / min(reps), q, scale, reps))
            spiky.sort(reverse=True)
            print(f"  soak rep-ratio outliers >=2x: {len(spiky)}")
            for ratio, q, scale, reps in spiky[:8]:
                print(f"    {q} [{scale}]: reps "
                      f"{['%.2f' % t for t in reps]} ratio {ratio:.1f}x"
                      " <-- noisy measurement")
        elif fold_reps:
            spiky = []
            for q, v in qs.items():
                for side in ("fold", "scratch"):
                    reps = v.get(f"{side}_reps", [])
                    if len(reps) >= 2 and min(reps) > 0 \
                            and max(reps) / min(reps) >= 2.0:
                        spiky.append((max(reps) / min(reps), q, side, reps))
            spiky.sort(reverse=True)
            print(f"  fold rep-ratio outliers >=2x: {len(spiky)}")
            for ratio, q, side, reps in spiky[:8]:
                print(f"    {q} [{side}]: reps "
                      f"{['%.2f' % t for t in reps]} ratio {ratio:.1f}x"
                      " <-- noisy measurement")
        else:
            print("  (no rep arrays — pre-round-12 schema)")

    corr = sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json")),
                  key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    if corr:
        latest = corr[-1]
        d = json.load(open(latest))
        rows = d if isinstance(d, dict) else {}
        def ok(v):
            if isinstance(v, dict):
                # driver row shape: rows_match/schema_match/hash_match
                # + err; a row is green only when all present checks
                # pass and no error was recorded
                checks = [v[k] for k in
                          ("rows_match", "schema_match", "hash_match")
                          if k in v]
                return bool(checks) and all(checks) and not v.get("err")
            return v in (True, "OK", "PASS", "pass")
        n_ok = sum(1 for v in rows.values() if ok(v))
        print(f"{os.path.basename(latest)}: {n_ok}/{len(rows)} green")
        bad = [k for k, v in rows.items() if not ok(v)]
        if bad:
            print("  red rows:", ", ".join(sorted(bad)))
    else:
        print("no CORRECTNESS_r*.json yet (driver writes it per round)")


if __name__ == "__main__":
    main()
