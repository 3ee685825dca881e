#!/usr/bin/env python3
"""Noise-robust Spark-vs-DuckDB anchor: interleaved per-query passes.

The round-12 anchor was measured in a noisy host window and read 2.85x
raw while the same-HEAD sf1 signal was flat — wall-clock comparisons of
two SEPARATE battery runs inherit whichever noise window each side ran
in. This harness removes that failure mode structurally: for every
round it runs each query ONCE on Spark (a long-lived `Bench --serve`
JVM, warmed) immediately followed by ONCE on DuckDB, so both engines
sample the same seconds of host noise. The per-query ratio is the
median over rounds of the PAIRED ratios; totals are medians per side.

Usage:
  python3 scripts/anchor_interleaved.py <sfDir> <oracle_sql.json> \
      [out.json] [rounds=3]

Emits one JSON document:
  {"metric": "anchor_interleaved", "rounds": R,
   "spark": {q: medianSec}, "duckdb": {q: medianSec},
   "paired_ratio": {q: medianOf(spark_r/duck_r)},
   "pure_total_spark": S, "pure_total_duckdb": D, "pure_ratio": S/D,
   "pure_ratio_floor_adjusted": ..., ...}

"pure" uses the same >= 5 ms DuckDB-side rule as anchor_split.py
(operational/golden readbacks compare an operation against a no-op).
The 30 ms floor adjustment mirrors anchor_split.py (local[32] pays a
per-query scheduling floor regardless of data).
"""
import json
import os
import subprocess
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FLOOR_SEC = 0.030
OPERATIONAL_CUTOFF = 0.005


def spark_classpath(repo_root):
    return ":".join([
        "/opt/spark/jars/*",
        os.path.join(repo_root, "target", "scala-2.13", "classes"),
    ])


def launch_server(sf_dir, repo_root):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    proc = subprocess.Popen(
        # 512m code cache: a long-lived server JITs generated classes for
        # 200+ distinct queries; the 240m default flushes hot compiled
        # code between rounds and re-JITs it, inflating later rounds
        ["java", "-Xmx32g", "-XX:ReservedCodeCacheSize=512m",
         "--add-exports", "java.base/sun.nio.ch=ALL-UNNAMED",
         "-cp", spark_classpath(repo_root), "graft.Bench", "--serve"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, env=env, cwd=repo_root)
    for line in proc.stdout:
        if line.strip() == "READY":
            return proc
        # stray stdout before READY is tolerated (Spark logs go to stderr)
    raise RuntimeError("Bench --serve exited before READY")


def spark_run(proc, name):
    proc.stdin.write(name + "\n")
    proc.stdin.flush()
    for line in proc.stdout:
        parts = line.strip().split()
        if len(parts) == 3 and parts[0] == "TIME" and parts[1] == name:
            return float(parts[2])
        if parts and parts[0] == "ERR":
            return None
    raise RuntimeError(f"server died while running {name}")


def rd(path):
    """Read spec for a table that may be ONE parquet file or a DIRECTORY
    of part files (the scale artifacts write directories)."""
    return f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"


def median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def main(sf_dir, oracle_path, out_path=None, rounds=3):
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    oracles = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM {rd(f'{sf_dir}/{t}.parquet')}")
    names = sorted(oracles)
    # DuckDB warmup mirrors the server's Spark warmup
    duck_ok = set()
    for n in names:
        try:
            con.sql(oracles[n]).fetchall()
            duck_ok.add(n)
        except Exception as e:
            # a skipped query silently shrinks the anchor -- say so loudly
            print(f"SKIP (duckdb warmup failed) {n}: {e}", file=sys.stderr)
    proc = launch_server(sf_dir, repo_root)
    spark_times = {n: [] for n in names}
    duck_times = {n: [] for n in names}
    try:
        for r in range(rounds):
            for n in names:
                if n not in duck_ok:
                    continue
                s = spark_run(proc, n)
                t0 = time.perf_counter()
                con.sql(oracles[n]).fetchall()
                d = time.perf_counter() - t0
                if s is not None:
                    spark_times[n].append(s)
                    duck_times[n].append(d)
    finally:
        try:
            proc.stdin.write("EXIT\n")
            proc.stdin.flush()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()

    paired = {n: median([s / d for s, d in
                         zip(spark_times[n], duck_times[n])])
              for n in names if spark_times[n]}
    s_med = {n: median(v) for n, v in spark_times.items() if v}
    d_med = {n: median(v) for n, v in duck_times.items() if v}
    pure = [n for n in s_med if d_med[n] >= OPERATIONAL_CUTOFF]
    ops = [n for n in s_med if d_med[n] < OPERATIONAL_CUTOFF]
    s_pure = sum(s_med[n] for n in pure)
    d_pure = sum(d_med[n] for n in pure)
    s_adj = sum(max(s_med[n] - FLOOR_SEC, 0.0) for n in pure)
    doc = {
        "metric": "anchor_interleaved",
        "rounds": rounds,
        "sf": sf_dir,
        "spark": s_med,
        "duckdb": d_med,
        "paired_ratio": paired,
        "pure_queries": len(pure),
        "operational_queries": len(ops),
        "pure_total_spark": s_pure,
        "pure_total_duckdb": d_pure,
        "pure_ratio": s_pure / d_pure if d_pure else None,
        "pure_ratio_floor_adjusted": s_adj / d_pure if d_pure else None,
        "floor_ms": FLOOR_SEC * 1000,
        "note": ("per-round interleaved Spark/DuckDB passes of the same "
                 "query — both engines sample the same host-noise window; "
                 "per-query ratio = median of paired per-round ratios"),
    }
    out = json.dumps(doc)
    if out_path:
        open(out_path, "w").write(out + "\n")
    summary = {k: doc[k] for k in ("rounds", "pure_queries",
               "pure_total_spark", "pure_total_duckdb", "pure_ratio",
               "pure_ratio_floor_adjusted")}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None,
                  int(sys.argv[4]) if len(sys.argv) > 4 else 3))
