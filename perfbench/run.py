#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload live_steady --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark's JVM harness from source (`perfbench/jvm`, through the
repository's own sbt build) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Workloads, metrics and the layer
map are described in perfbench/README.md.

The last line of stdout is `{"correct", "attempted", "failed",
"metrics"}`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. The line before it is the run context. A run
whose outputs are wrong prints `"correct": false` and exits 1.
"""
import argparse
import hashlib
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import loadgen  # noqa: E402
import tracing  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
REPLAY_SECONDS = 25           # of events per user in the replay backlog
BATCH_SF, DATA_SEED = 0.01, 42
FAMILIES = {
    "relational": ["q1_pricing", "q21_waiting_suppliers"],
    "timeseries": ["ts_asof_native", "mov_sessions"],
    "dedup": ["dedup_setsim_join"],
    "similarity": ["knn_ivf_sq8"],
    "text": ["ret_bm25", "doc_tfidf_terms"],
    "graph": ["graph_pagerank", "graph_ppr_delete"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
# the program's own heap limit (build.sbt); no -Xms, so the resident
# set follows what the heap actually grows to
JVM_OPTS = [
    "-Xmx8g", "-XX:-UsePerfData",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                 "java.net", "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar"]
     for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


CHILDREN = []  # processes this run started; stopped on any exit


def stop_children(signum=None, frame=None):
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
        p.wait()
    if signum is not None:
        sys.exit(128 + signum)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def weighted_pct(pairs, q):
    """Smallest value whose cumulative weight reaches q of the total;
    pairs are (value, weight)."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return 0.0


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---- build -------------------------------------------------------------

def source_digest():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "jvm")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the JVM harness; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no graft sources here: run from the root of a graft checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dsbt.server.autostart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        sbt = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "export perfbench/Runtime/fullClasspath"],
                               cwd=os.path.join(BENCH, "jvm"), env=env, stdout=subprocess.PIPE,
                               stderr=log, text=True)
        CHILDREN.append(sbt)
        out, _ = sbt.communicate(timeout=800)
    lines = [ln.strip() for ln in out.splitlines()
             if ln.startswith("/") and "classes" in ln]
    if sbt.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed; see .bench_build/build.log")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1], digest


# ---- the JVM under test -------------------------------------------------

class Jvm:
    """The harness process: graft's layers in one JVM, driven over a
    line protocol (`@@tag json` out, one-word commands in)."""

    def __init__(self, classpath, work, args):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.log = open(os.path.join(work, "jvm.log"), "w")
        self.spawned = time.time()
        self.p = subprocess.Popen(
            ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
             "perfbench.Harness", "--work", work, *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, cwd=work)
        CHILDREN.append(self.p)
        self.lines = queue.Queue()
        self.done = False
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for ln in self.p.stdout:
            if ln.startswith("@@"):
                tag, _, body = ln[2:].partition(" ")
                self.done = self.done or tag == "result"
                self.lines.put((tag, json.loads(body), time.time()))
        self.lines.put(("eof", {}, time.time()))

    def expect(self, tag, timeout=150):
        try:
            got, body, at = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"harness sent no '{tag}' within {timeout}s")
        if got != tag:
            raise RuntimeError(f"harness sent '{got}' while '{tag}' was due; see jvm.log")
        return body, at

    def send(self, command):
        self.p.stdin.write(command + "\n")
        self.p.stdin.flush()

    def close(self):
        """Lets a finished harness exit on its own; kills one that failed."""
        try:
            self.p.wait(timeout=15 if self.done else 0.1)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self.log.close()


# ---- workloads -----------------------------------------------------------

def run_live(cp, work, a, spans):
    jvm = Jvm(cp, work, ["--workload", "live_steady", "--seed", str(a.seed),
                         "--trace", str(a.trace)])
    try:
        ready, at = jvm.expect("ready")
        setup_s = at - jvm.spawned
        load = loadgen.LiveLoad(a.seed, a.seconds, ready["shard_port"],
                                ready["edge_port"], spans)
        t0 = load.run()
        jvm.send("drain")
        _, drained = jvm.expect("drained", timeout=120)
        load.finish_fresh(timeout=15)
        jvm.send("finish")
        res, _ = jvm.expect("result")
    finally:
        jvm.close()

    seen = load.first_seen()
    lat = [(seen[k] - load.last_stamp[k] / 1e3) * 1e3 for k in seen]
    unseen = load.probe_windows() - set(seen)
    mismatches = checks.compare_counts(load.truth, res["served"])
    acked = sum(r for _, _, _, r, ok in load.puts if ok)
    puts_ms = [(end - due) * 1e3 for due, _, end, _, _ in load.puts]
    gets = load.gets
    e2e = {"setup_s": setup_s,
           "visible_p50_ms": pct(lat, 0.5), "visible_p95_ms": pct(lat, 0.95),
           "work_per_s": acked / (drained - t0)}
    layers = dict(res["layers"])
    layers.update({
        "sources.put_calls": len(load.puts), "sources.put_records": acked,
        "sources.put_busy_ms": sum((e - s) * 1e3 for _, s, e, _, _ in load.puts),
        "sources.put_p50_ms": pct(puts_ms, 0.5), "sources.put_p95_ms": pct(puts_ms, 0.95),
        "sources.store_files": res["store_files"], "serve.table_files": res["table_files"],
        "serve.get_ms_p95": pct([(e - d) * 1e3 for _, d, _, e, _, _, _ in gets], 0.95),
        "serve.busy_ms_p50": pct([(e - s) * 1e3 for _, _, s, e, _, _, _ in gets], 0.5),
        "serve.rows_returned": sum(g[5] for g in gets),
        "serve.bytes": sum(g[6] for g in gets),
        "serve.http_errors": sum(1 for g in gets if g[4] != 200),
        "gen.late_ms_p95": pct([(s - d) * 1e3 for d, s, _, _, _ in load.puts], 0.95),
    })
    for shape in ("poll", "initial", "heatmap", "fresh"):
        mine = [(e - d) * 1e3 for sh, d, _, e, _, _, _ in gets if sh == shape]
        layers[f"serve.gets_{shape}"] = len(mine)
        layers[f"serve.get_ms_p50_{shape}"] = pct(mine, 0.5)
    problems = mismatches + [f"window {k}: never served at its acknowledged count"
                             for k in sorted(unseen)]
    attempted = len(load.puts) + len(gets) + len(load.truth)
    failed = load.failed + len(problems)
    return e2e, layers, attempted, failed, problems, res


def run_replay(cp, work, a, spans, store, cores=4, seconds=None, truth=None):
    """Drain the backlog in `store`; a `truth` means the store is already
    filled."""
    jvm = Jvm(cp, work, ["--workload", "replay_catchup", "--seed", str(a.seed),
                         "--store", store,
                         "--trace", str(a.trace if truth is None else 0),
                         "--cores", str(cores), "--seconds", str(seconds or a.seconds)])
    drains = []
    try:
        service, _ = jvm.expect("store")
        if truth is None:
            truth = loadgen.prefill(service["shard_port"], a.seed, REPLAY_SECONDS)
        prefill_s = time.time() - jvm.spawned
        jvm.send("go")
        ready, at = jvm.expect("ready")
        setup_s = at - jvm.spawned
        while True:
            tag, body, _ = jvm.lines.get(timeout=170)
            if tag != "drain":
                break
            drains.append(body)
        if tag != "result":
            raise RuntimeError(f"harness sent '{tag}' during the drains; see jvm.log")
        res = body
        res["setup_marks"]["prefill_done"] = prefill_s
    finally:
        jvm.close()

    backlog = ready["backlog"]
    problems = []
    rates, p50s, p95s = [], [], []
    for d in drains:
        problems += [f"drain {d['i']}: {m}" for m in checks.compare_counts(truth, d["served"])]
        # from the start of the first micro-batch to the commit of the
        # last; a batch's events are visible once it (and with it the
        # merge) has committed
        start = min(s for s, _, _ in d["batches"])
        rates.append(backlog / ((max(e for _, e, _ in d["batches"]) - start) / 1e3))
        lat = [(end - start, rows) for _, end, rows in d["batches"]]
        p50s.append(weighted_pct(lat, 0.5))
        p95s.append(weighted_pct(lat, 0.95))
        spans.add(f"drain:{d['i']}", "", "drain", "streaming", start / 1e3, d["end"] / 1e3)
    best = max(range(len(rates)), key=rates.__getitem__)
    e2e = {"setup_s": setup_s,
           "visible_p50_ms": p50s[best], "visible_p95_ms": p95s[best],
           "work_per_s": rates[best]}
    layers = dict(res["layers"])
    layers.update({"sources.put_records": backlog, "sources.store_files": res["store_files"]})
    res["drain_rates"] = rates
    attempted = len(drains) * (1 + len(truth))
    return e2e, layers, attempted, len(problems), problems, res, truth


def batch_data():
    """The batch tables, generated once per checkout (they depend only on
    the fixed scale factor and data seed)."""
    import gen_tables
    d = os.path.join(BUILD, "data", f"sf{BATCH_SF}-{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, BATCH_SF, DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d


def run_batch(cp, work, a, spans):
    jvm = Jvm(cp, work, ["--workload", "batch_mix", "--seed", str(a.seed),
                         "--trace", str(a.trace), "--seconds", str(a.seconds),
                         "--queries", ",".join(QUERIES), "--data-dir", batch_data()])
    try:
        ready, at = jvm.expect("ready", timeout=170)
        setup_s = at - jvm.spawned
        res, _ = jvm.expect("result", timeout=170)
    finally:
        jvm.close()

    with open(os.path.join(BENCH, "expected", "batch_mix.json")) as f:
        expected = json.load(f)["digests"]
    qs = res["queries"]
    got = {n: q["digest"] for n, q in qs.items() if q["digest"] is not None}
    problems = [f"query {n}: {q['error']}" for n, q in sorted(qs.items()) if q["error"]]
    problems += [f"warm-up {n}: {e}" for n, e in sorted(ready["warm_errors"].items())]
    problems += checks.compare_digests(expected, got)
    wall = {n: statistics.median(q["times"]) for n, q in qs.items()}
    total = sum(wall.values())
    e2e = {"setup_s": setup_s,
           "visible_p50_ms": pct(list(wall.values()), 0.5) * 1e3,
           "visible_p95_ms": pct(list(wall.values()), 0.95) * 1e3,
           "work_per_s": len(wall) / total}
    layers = dict(res["layers"])
    layers["batch.total_s"] = total
    layers["batch.geomean_s"] = math.exp(statistics.fmean(math.log(t) for t in wall.values()))
    for fam, names in FAMILIES.items():
        groups = [g for k, g in res["groups"].items() if k.split("#")[0] in names]
        passes = max(1, res["passes"])
        layers[f"batch.{fam}.wall_s"] = sum(wall[n] for n in names)
        for m in ("jobs", "plan_ms", "task_cpu_s", "shuffle_mb"):
            layers[f"batch.{fam}.{m}"] = sum(g[m] for g in groups) / passes
    attempted = len(QUERIES) * (res["passes"] + 3)  # two warm-up rounds, one warm-up pass
    return e2e, layers, attempted, len(problems), problems, res


# ---- main ----------------------------------------------------------------

def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer"]], {m["name"]: m["unit"] for m in
                                                     spec["end_to_end"] + spec["per_layer"]}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["live_steady", "replay_catchup", "batch_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    names, units = per_layer_names()
    cp, digest = build()
    load_start = os.getloadavg()[0]
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = tracing.Spans(a.trace == 1)
    extra = {}
    if a.workload == "live_steady":
        e2e, layers, attempted, failed, problems, res = run_live(cp, work, a, spans)
    elif a.workload == "replay_catchup":
        store = os.path.join(work, "store")
        e2e, layers, attempted, failed, problems, res, truth = run_replay(
            cp, work, a, spans, store)
        if a.trace:
            # single-core baseline over the same backlog
            one = run_replay(cp, os.path.join(work, "1core"), a, tracing.Spans(False),
                             store, cores=1, seconds=1, truth=truth)
            extra["streaming.replay_events_per_s_1core"] = one[0]["work_per_s"]
            attempted, failed, problems = attempted + one[2], failed + one[3], problems + one[4]
    else:
        e2e, layers, attempted, failed, problems, res = run_batch(cp, work, a, spans)
    layers.update(extra)
    layers["exec.peak_rss_mb"] = res["peak_rss_mb"]
    layers["exec.peak_used_after_gc_mb"] = res["peak_used_after_gc_mb"]
    layers["run.failed_ops_frac"] = failed / max(1, attempted)
    context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "nproc": os.cpu_count(),
               "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
               "jvm_max_heap_mb": res["max_heap_mb"], "commit": git_commit(),
               "source_digest": digest}
    for p in problems[:20]:
        print(f"perfbench: output check failed: {p}", file=sys.stderr)

    if a.trace:
        jvm_spans_file = os.path.join(work, "spans_jvm.json")
        all_spans = spans.items
        if os.path.exists(jvm_spans_file):
            with open(jvm_spans_file) as f:
                all_spans = all_spans + json.load(f)
        for layer, ms in tracing.self_times(all_spans).items():
            layers[f"self.{layer}_ms"] = ms
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"context": context, "end_to_end": e2e, "per_layer": layers,
                       "spans": all_spans}, f)
        chosen = {n: layers.get(n, 0.0) for n in names}
    else:
        chosen = e2e
    metrics = {n: {"value": float(v), "unit": units[n]} for n, v in chosen.items()}
    record = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump({"context": context, "result": record, "end_to_end": e2e,
                   "per_layer": layers, "setup_marks": res["setup_marks"],
                   "queries": res.get("queries"), "drain_rates": res.get("drain_rates"),
                   "problems": problems}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(record))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    try:
        main()
    finally:
        stop_children()
