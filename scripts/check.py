#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (test tooling only —
the engine itself is pure Scala/Spark).

Usage: python3 scripts/check.py [sfDir] [outDir] [--tolerant]

Exact value equality by default (the driver's gate is an exact hash
compare); --tolerant enables a 1e-9 relative float tolerance for
debugging only. Since round 10 the compare is also DTYPE-aware:
an integer column on one side arriving as float on the other
(e.g. DuckDB HUGEINT -> fetchdf float64 vs engine int64) FAILS,
because the driver's hash is type-sensitive — this is exactly how
round 9's sample_budget red row slipped past the old type-blind
replica. Local green predicts driver green; it is not identical.

Reads outDir/<name>/ parquet (written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle SQL in DuckDB against views
over sfDir's parquet tables, and compares: schema (column names),
row count, and value equality after sorting columns by name and rows
by all columns. Each PASS/FAIL line carries the oracle's DuckDB
seconds after the query name.
"""
import sys, json, glob, math, shutil, tempfile, time
import duckdb
import pandas as pd

# DuckDB spills into a temporary directory that the check removes on
# exit, capped at this size: a runaway oracle then fails its own row as
# SQL-FAIL instead of filling the disk (DuckDB's defaults are '.tmp' in
# the working directory and 90 % of the free disk).
SPILL_CAP = "4GiB"

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                              str(type(v)).endswith("ndarray'>") else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df

# The driver's gate is an EXACT hash compare — so exact equality is
# the default here; --tolerant (1e-9 relative) is a debugging aid only
# and its PASSes do NOT predict driver green.
TOLERANT = False

def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        if af == bf:
            return True
        return TOLERANT and abs(af - bf) < 1e-9 * max(1.0, abs(af), abs(bf))
    return a == b

def dtype_mismatch(s_dtype, d_dtype):
    """The driver's hash is TYPE-SENSITIVE: a DuckDB HUGEINT (fetchdf ->
    float64) vs an engine int64 hashes differently even when every value
    is identical (round-9 sample_budget shipped red exactly this way).
    Flag integer-vs-float kind splits in either direction; same-kind
    width differences (int32 vs int64) are fine. Nullable ints become
    float64 on BOTH sides (pandas + fetchdf) so nulls don't false-flag."""
    sk, dk = s_dtype.kind, d_dtype.kind
    ints, flts = ("i", "u"), ("f",)
    if (sk in ints and dk in flts) or (sk in flts and dk in ints):
        return True
    return False

def compare(name, spark_df, duck_df):
    sn, dn = norm(spark_df), norm(duck_df)
    if list(sn.columns) != list(dn.columns):
        return f"SCHEMA spark={list(sn.columns)} duck={list(dn.columns)}"
    if len(sn) != len(dn):
        return f"ROWS spark={len(sn)} duck={len(dn)}"
    for c in sn.columns:
        if dtype_mismatch(sn[c].dtype, dn[c].dtype):
            return (f"DTYPE col={c} spark={sn[c].dtype} duck={dn[c].dtype}"
                    " (driver hash is type-sensitive; likely missing"
                    " CAST(... AS BIGINT) in the oracle SQL)")
    for c in sn.columns:
        sv, dv = sn[c].tolist(), dn[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            an, bn = pd.isna(a), pd.isna(b)
            if hasattr(an, "__len__"): an = False
            if hasattr(bn, "__len__"): bn = False
            if an and bn:
                continue
            if an != bn or not values_equal(a, b):
                return f"VALUE col={c} row={i} spark={a!r} duck={b!r}"
    return None

def bench_seal_check():
    """VERDICT r16 item 4, cross-session semantics fixed per VERDICT r17
    item 2 / "What's wrong" #2: the old check compared the graded
    record's parsed.value to the committed bench_full.json by EXACT
    float equality, which only two runs of the same JVM session can
    satisfy — the committed record is the builder's run, the graded one
    the driver's, so against driver artifacts the check failed
    spuriously (and could only ever pass in-session). What a stale
    bench_full.json actually betrays is (a) a different QUERY SET
    (dropped/renamed/added queries) or (b) a total from a different
    era. So: the query KEY SETS must match exactly, and the totals must
    agree within a stated cross-session tolerance (default ratio 1.5x,
    generous against the observed ~13% builder-vs-driver session skew;
    override with BENCH_SEAL_TOLERANCE). Run as:
        python3 scripts/check.py --bench-seal
    """
    import os, re
    tol = float(os.environ.get("BENCH_SEAL_TOLERANCE", "1.5"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    benches = sorted((f for f in os.listdir(root)
                      if re.fullmatch(r"BENCH_r\d+\.json", f)),
                     key=lambda f: int(re.search(r"\d+", f).group()))
    if not benches:
        print("bench-seal: no BENCH_r*.json yet"); return 0
    newest = benches[-1]
    graded = json.load(open(os.path.join(root, newest)))
    parsed = graded.get("parsed") or {}
    full = json.load(open(os.path.join(root, "bench_full.json")))
    gq = set((parsed.get("queries") or {}).keys())
    fq = set((full.get("queries") or {}).keys())
    if not gq:
        print(f"bench-seal: {newest} has no parsed.queries — nothing to"
              " compare (driver tail truncated?); NOT failing")
        return 0
    if gq != fq:
        missing = sorted(gq - fq)[:10]
        extra = sorted(fq - gq)[:10]
        print(f"bench-seal FAIL: query sets differ — graded {len(gq)} vs"
              f" committed {len(fq)}; graded-only={missing}"
              f" committed-only={extra} — commit the full record of the"
              " run whose query set the driver graded")
        return 1
    gv, fv = parsed.get("value"), full.get("value")
    if not gv or not fv or max(gv, fv) / min(gv, fv) > tol:
        print(f"bench-seal FAIL: totals {gv} (graded) vs {fv} (committed)"
              f" differ beyond the {tol}x cross-session tolerance — the"
              " committed bench_full.json is from a different era; commit"
              " a current record")
        return 1
    print(f"bench-seal OK: {newest} query set matches bench_full.json"
          f" ({len(gq)} queries) and totals {gv} vs {fv} are within"
          f" {tol}x")
    return 0

def main():
    global TOLERANT
    if "--bench-seal" in sys.argv[1:]:
        sys.exit(bench_seal_check())
    args = [a for a in sys.argv[1:] if a != "--tolerant"]
    TOLERANT = "--tolerant" in sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    out_dir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    spill_dir = tempfile.mkdtemp(prefix="graft_check_")
    try:
        n_ok, n_rows = run_oracles(sf_dir, out_dir, spill_dir)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)
    sys.exit(0 if n_ok == n_rows else 1)

def run_oracles(sf_dir, out_dir, spill_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill_dir}'")
    con.execute(f"SET max_temp_directory_size = '{SPILL_CAP}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # queries that THREW in graft.Verify land here — report them as
    # explicit error rows, never as silently absent keys
    try:
        verify_errors = json.load(open(f"{out_dir}/verify_errors.json"))
    except Exception:
        verify_errors = {}
    results, secs = {}, {}
    for name, sql in sorted(oracle.items()):
        if name in verify_errors:
            results[name] = f"SPARK-ERR {verify_errors[name][:200]}"
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "MISSING spark output"
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)],
                                 ignore_index=True)
        except Exception as e:
            results[name] = f"READ-FAIL {e}"
            continue
        t0 = time.monotonic()
        try:
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"SQL-FAIL {str(e)[:200]}"
            continue
        finally:
            secs[name] = time.monotonic() - t0
        results[name] = compare(name, spark_df, duck_df) or "OK"
    n_ok = sum(1 for v in results.values() if v == "OK")
    # the seconds go after the name: perfbench/seed_expected.py reads
    # the second token of a PASS line as the query name
    for name, v in results.items():
        took = f" {secs[name]:.2f}s" if name in secs else ""
        print(("PASS " if v == "OK" else "FAIL ") + name + took
              + ("" if v == "OK" else f"  -> {v}"))
    print(f"\n{n_ok}/{len(results)} queries match")
    return n_ok, len(results)

if __name__ == "__main__":
    main()
