#!/usr/bin/env python3
"""Same-window Spark-vs-DuckDB twin sweep (VERDICT r13 #3; r15 adds the
floor-reference normalization).

Every weak-list adjudication needs BOTH engines measured in ONE window:
ambient VM-level CPU steal hits the sustained all-core Spark JVM while
leaving (or even favoring) the short DuckDB twins, so numbers taken hours
apart manufacture ratio disputes (5 of r13's 7 over-bar readings were
pure window drift). This script runs `graft.Bench` restricted to the
named queries (interleaved reps in one JVM, after Bench's untimed
warm-up) and the DuckDB twins back-to-back, records the 1-minute loadavg
at each phase boundary, and emits the ratio table PERF.md's weak sweeps
used to hand-build. Both engines run Bench's 5 reps; the Spark med/min/max
come from Bench's per-rep JSONL sidecar.

FLOOR NORMALIZATION (PERF.md Methodology #6, automated in r15): the bare
filtered scan `q_scan_filter` is ALWAYS swept alongside the requested
queries as the floor reference — at sf0.1 Spark's per-job scheduling
floor makes even that trivial query read 2.4–2.6× its twin, so a raw >2×
ratio condemns a query merely for existing as a Spark job. Each row's
`norm_min`/`norm_med` columns divide its raw ratio by the floor
reference's ratio from the SAME window; the weak-sweep verdict at the
bottom names only members above the FLOOR-NORMALIZED threshold
(--weak-bar, default 2.0). Raw ratios stay in the table for continuity
with pre-r15 sweeps.

Usage:
  python3 tools/twin_bench.py <sf_dir> <q1,q2,...>
      [--oracle-json PATH] [--out PATH.json] [--label NAME]
      [--weak-bar X] [--no-floor]

The twin SQL comes from a Verify dump's oracle_sql.json (sf-independent
SQL over view names; default /tmp/verify_out/oracle_sql.json — run
`SPARK_GRAFT_ONLY=<qs> sbt "runMain graft.Verify <sf> /tmp/verify_out"`
first if absent). Spark reps run FIRST, twins second; both phases print
per-engine loads so an asymmetric-steal window is visible in the artifact
itself.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

FLOOR_QUERY = "q_scan_filter"

REPS = 5  # graft.Bench's reps per query


def load1():
    return os.getloadavg()[0]


def run_spark(sf_dir, queries):
    """med/min/max per query from one `graft.Bench` run over `queries`; a
    query whose rep threw (sec -1) is left out."""
    with tempfile.TemporaryDirectory() as tmp:
        out_json = os.path.join(tmp, "bench.json")
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
                   SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_BENCH_OUT=out_json)
        p = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                           capture_output=True, text=True, env=env,
                           cwd=os.path.dirname(os.path.dirname(
                               os.path.abspath(__file__))))
        acc = {}
        sidecar = out_json[:-len(".json")] + ".jsonl"
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                for line in f:
                    rep = json.loads(line)
                    acc.setdefault(rep["q"], []).append(rep["sec"])
    out = {}
    for q, vs in acc.items():
        if min(vs) < 0:
            continue
        vs = sorted(vs)
        out[q] = {"med": vs[len(vs) // 2], "min": vs[0], "max": vs[-1]}
    if not out:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit("graft.Bench timed no query")
    return out


def run_twins(sf_dir, queries, oracle):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    # interleave twins the same way graft.Bench interleaves Spark queries
    acc = {q: [] for q in queries}
    for _ in range(REPS):
        for q in queries:
            t0 = time.perf_counter()
            con.execute(oracle[q]).fetchall()
            acc[q].append(time.perf_counter() - t0)
    for q, vs in acc.items():
        vs = sorted(vs)
        out[q] = {"med": vs[len(vs) // 2], "min": vs[0], "max": vs[-1]}
    return out


def fmt(v, width=6, prec=2):
    """None-safe column formatting — a 0-second twin (ratio None) must not
    TypeError the whole artifact after both engine phases already ran."""
    if v is None:
        return f"{'n/a':>{width}}"
    return f"{v:>{width}.{prec}f}"


def ratio(a, b):
    return a / b if b else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("queries")
    ap.add_argument("--oracle-json",
                    default="/tmp/verify_out/oracle_sql.json")
    ap.add_argument("--out", default=None)
    ap.add_argument("--label", default=None)
    ap.add_argument("--weak-bar", type=float, default=2.0,
                    help="floor-normalized min-ratio above which the "
                         "verdict names a member weak (default 2.0)")
    ap.add_argument("--no-floor", action="store_true",
                    help="skip the floor reference (raw ratios only)")
    args = ap.parse_args()
    queries = args.queries.split(",")
    use_floor = not args.no_floor
    if use_floor and FLOOR_QUERY not in queries:
        queries = [FLOOR_QUERY] + queries
    oracle = json.load(open(args.oracle_json))
    missing = [q for q in queries if q not in oracle]
    if missing:
        raise SystemExit(f"no twin SQL for: {missing} — rows-only queries "
                         "have no DuckDB twin; drop them from the list "
                         "(or rerun Verify without SPARK_GRAFT_ONLY to get "
                         "the full oracle json)")

    rec = {"label": args.label, "sf_dir": args.sf_dir, "reps": REPS,
           "floor_query": FLOOR_QUERY if use_floor else None,
           "wall_start": time.strftime("%Y-%m-%dT%H:%M:%S"),
           "load_pre_spark": load1()}
    spark = run_spark(args.sf_dir, queries)
    rec["load_post_spark"] = load1()
    twins = run_twins(args.sf_dir, queries, oracle)
    rec["load_post_twin"] = load1()
    rec["wall_end"] = time.strftime("%Y-%m-%dT%H:%M:%S")

    # A query missing from graft.Bench's sidecar means the Spark side THREW —
    # surface it loudly instead of silently dropping the row (pre-r15 a
    # Spark failure could vanish from the adjudication artifact).
    dropped = [q for q in queries if q not in spark]
    for q in dropped:
        print(f"WARNING: {q} missing from graft.Bench's timings — the Spark "
              "run failed (stderr has why); row omitted",
              file=sys.stderr)
    rec["spark_missing"] = dropped

    floor_min = floor_med = None
    if use_floor and FLOOR_QUERY in spark:
        floor_min = ratio(spark[FLOOR_QUERY]["min"], twins[FLOOR_QUERY]["min"])
        floor_med = ratio(spark[FLOOR_QUERY]["med"], twins[FLOOR_QUERY]["med"])
    rec["floor_ratio_min"] = floor_min
    rec["floor_ratio_med"] = floor_med

    rows = []
    for q in queries:
        s = spark.get(q)
        if s is None:
            continue
        d = twins[q]
        r_min, r_med = ratio(s["min"], d["min"]), ratio(s["med"], d["med"])
        rows.append({
            "query": q, "spark_min": s["min"], "spark_med": s["med"],
            "spark_max": s["max"], "twin_max": d["max"],
            "twin_min": d["min"], "twin_med": d["med"],
            "ratio_min": r_min, "ratio_med": r_med,
            "norm_min": ratio(r_min, floor_min)
            if r_min is not None else None,
            "norm_med": ratio(r_med, floor_med)
            if r_med is not None else None})
    rec["rows"] = rows

    hdr = (f"{'query':<24} {'spark_min':>9} {'spark_med':>9} "
           f"{'twin_min':>8} {'twin_med':>8} {'r_min':>6} {'r_med':>6} "
           f"{'n_min':>6} {'n_med':>6}")
    print(hdr)
    for r in rows:
        print(f"{r['query']:<24} {fmt(r['spark_min'], 9, 3)} "
              f"{fmt(r['spark_med'], 9, 3)} {fmt(r['twin_min'], 8, 3)} "
              f"{fmt(r['twin_med'], 8, 3)} {fmt(r['ratio_min'])} "
              f"{fmt(r['ratio_med'])} {fmt(r['norm_min'])} "
              f"{fmt(r['norm_med'])}")
    print(f"loads: pre_spark={rec['load_pre_spark']:.2f} "
          f"post_spark={rec['load_post_spark']:.2f} "
          f"post_twin={rec['load_post_twin']:.2f} "
          f"window={rec['wall_start']}..{rec['wall_end']}")
    if floor_min is not None:
        weak = [r["query"] for r in rows
                if r["query"] != FLOOR_QUERY
                and r["norm_min"] is not None
                and r["norm_min"] > args.weak_bar
                and r["twin_min"] >= 0.15]
        rec["weak"] = weak
        print(f"floor ref {FLOOR_QUERY}: raw {fmt(floor_min)}/"
              f"{fmt(floor_med)} (min/med) — norm columns divide by it")
        if weak:
            print(f"WEAK (norm_min > {args.weak_bar}, twin >= 0.15s): "
                  f"{', '.join(weak)}")
        else:
            print(f"WEAK (norm_min > {args.weak_bar}, twin >= 0.15s): none")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rec, f, indent=1)
        print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
