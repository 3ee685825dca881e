#!/usr/bin/env python3
"""graft's benchmark: one seeded, oracle-checked workload per run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the engine from source
(`build.py`), draws the request list from the seed, and serves it from one
client thread in one JVM on `local[<cores>]` (`src/Runner.scala`). Every
request name's first result is checked against DuckDB running that query's
`SparkEntry.oracleSql` with the strict rule of `scripts/exact_check.py`;
every timed result must then have the same digest as that checked result.

A crashed request counts as failed and is never a timing sample. A wrong
result (an oracle mismatch or a digest mismatch) makes the command exit 1.
With `--trace 0` the last stdout line holds the end-to-end metrics, with
`--trace 1` the per-layer ones (see `metrics()` and `layer_metrics()`).
Workloads, their vocabularies and the data checksum are in
`workloads.json`.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing into the checkout but the build dir

import build  # noqa: E402

CONFIG = json.loads((HERE / "workloads.json").read_text())
RUN_DIR = build.BUILD_DIR / "run"
JVM_TIMEOUT_S = 170
# C2 compiles a method after a tenth of the default invocation counts:
# same compiler, but a fresh JVM reaches its steady state within the
# settle passes instead of drifting through the window.
JIT_FLAGS = [
    "-XX:Tier3InvocationThreshold=20", "-XX:Tier3MinInvocationThreshold=10",
    "-XX:Tier3CompileThreshold=200", "-XX:Tier4InvocationThreshold=500",
    "-XX:Tier4MinInvocationThreshold=60", "-XX:Tier4CompileThreshold=1500",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [  # name, unit
    ("setup_s", "s"),
    ("request_p50_ms", "ms"),
    ("request_p90_ms", "ms"),
    ("requests_per_s", "1/s"),
    ("peak_heap_mb", "MB"),
]

# Per-request layer metrics: each is reported as its p50 over traced
# requests (`name`) and as its sum over the run (`name.total`).
PER_REQUEST = [
    ("gen.plan_cold_ms", "ms"), ("gen.plan_warm_ms", "ms"),
    ("gen.self_ms", "ms"), ("gen.jobs", "count"),
    ("sqlfront.sql_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("ops.eager_ms", "ms"), ("ops.eager_jobs", "count"),
    ("ops.eager_task_s", "s"), ("ops.bytes_written", "B"),
    ("ops.bytes_read", "B"),
    ("exec.action_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.busy_frac", "ratio"),
    ("exec.shuffle_bytes", "B"), ("exec.spill_bytes", "B"),
    ("jvm.gc_ms", "ms"),
]
PER_RUN = [
    ("setup.cold_s", "s"), ("load.catalog_ms", "ms"),
    ("preagg.materialize_ms", "ms"), ("setup.warmup_s", "s"),
    ("setup.warmup_jobs", "count"), ("setup.settle_s", "s"),
    ("trace.overhead_frac", "ratio"), ("trace.ungrouped_jobs", "count"),
    ("trace.layer_gap_frac", "ratio"),
]


def per_layer_names():
    """Every per-layer metric a traced run prints, with its unit."""
    out = []
    for name, unit in PER_REQUEST:
        out += [(name, unit), (name + ".total", unit)]
    return out + PER_RUN


class BenchError(Exception):
    """The run could not measure (no sources, build or engine failure)."""


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

def make_requests(workload, seed, passes):
    """The request list: (pass, name, mode) triples, a function of the
    workload and the seed only."""
    rng = random.Random(f"{workload}:{seed}")
    vocab = sorted(CONFIG["workloads"][workload]["vocabulary"])
    out = []
    for p in range(passes):
        order = vocab[:]
        rng.shuffle(order)
        if workload == "compile":
            repeat = rng.choice(order)
            for name in order:
                out.append((p, name, "cold"))
                if name == repeat:
                    out.append((p, name, "warm"))
        else:
            out += [(p, name, "run") for name in order]
    return out


def data_dir():
    d = ROOT / CONFIG["data"]["dir"]
    h = hashlib.sha256()
    for t in CONFIG["data"]["tables"]:
        f = d / f"{t}.parquet"
        if not f.is_file():
            raise BenchError(f"missing data file {f}")
        h.update(f.read_bytes())
    if h.hexdigest() != CONFIG["data"]["sha256"]:
        raise BenchError(f"data in {d} does not match its recorded sha256")
    return d


# ---------------------------------------------------------------------------
# Engine
# ---------------------------------------------------------------------------

def run_engine(classpath, workload, data, requests, seconds, trace, cores):
    """Serve `requests` in one JVM; return its output directory."""
    if RUN_DIR.exists():
        shutil.rmtree(RUN_DIR)
    out = RUN_DIR / "out"
    tmp = RUN_DIR / "tmp"
    out.mkdir(parents=True)
    tmp.mkdir()
    req_file = RUN_DIR / "requests.tsv"
    req_file.write_text("".join(f"{p}\t{n}\t{m}\n" for p, n, m in requests))
    heap = CONFIG["jvm_heap"]
    cmd = (["java", "-Xss16m", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", *JIT_FLAGS,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join(map(str, classpath)), "perfbench.Runner",
              "--workload", workload, "--data", str(data),
              "--requests", str(req_file), "--out", str(out),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--setups", str(CONFIG["setups"]),
              "--settle", str(CONFIG["workloads"][workload]["settle_passes"]),
              "--min-samples", str(CONFIG["min_samples"]),
              "--cores", str(cores)])
    log = RUN_DIR / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=RUN_DIR, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"engine did not finish in {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        raise BenchError(f"engine exited {code}:\n" + "\n".join(tail))
    return out


def read_tsv(path):
    text = path.read_text() if path.exists() else ""
    return [line.split("\t") for line in text.splitlines() if line]


# ---------------------------------------------------------------------------
# Correctness
# ---------------------------------------------------------------------------

def oracle_check(out, data):
    """Check each first result against DuckDB; return {name: cause} for
    every name whose first result is wrong. A first run that crashed is
    left to `judge`."""
    import duckdb
    sys.path.insert(0, str(ROOT / "scripts"))
    import exact_check as ec

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{out.parent / 'duckdb_tmp'}'")
    for t in ec.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {ec.rd(f'{data}/{t}.parquet')}")
    oracles = json.loads((out / "oracle_sql.json").read_text())
    bad = {}
    for name, status, _digest, _rows, _err in read_tsv(out / "checked.tsv"):
        if status != "ok":
            continue
        if name not in oracles:
            bad[name] = "no oracle SQL"
            continue
        try:
            snames, srows, _ = ec.spark_rows(str(out / "checked" / name))
            dnames, drows, _ = ec.duck_rows(con, oracles[name])
        except Exception as e:  # an unreadable result is a wrong result
            bad[name] = f"oracle error: {e}"
            continue
        if snames != dnames:
            bad[name] = f"columns {snames} != oracle {dnames}"
        elif srows != drows:
            diff = sum(a != b for a, b in zip(srows, drows))
            bad[name] = (f"rows differ from oracle ({len(srows)} vs "
                         f"{len(drows)} rows, {diff} unequal)")
    return bad


def judge(requests, checked, oracle_bad):
    """Split timed requests into samples and failures.

    `requests`: rows (name, mode, traced, status, wall_ms, detail).
    `checked`: {name: digest of the oracle-checked first result}.
    Returns (samples, failures, wrong): samples are the good rows;
    failures are (name, cause) for every crashed, unchecked or wrong
    request; wrong counts the wrong ones, which make the run exit non-zero.
    """
    samples, failures, wrong = [], [], 0
    for r in requests:
        name, status, detail = r["name"], r["status"], r["detail"]
        if status != "ok":
            failures.append((name, f"crashed: {detail}"))
        elif name not in checked and name not in oracle_bad:
            failures.append((name, "unchecked: its first run crashed"))
        elif name in oracle_bad:
            failures.append((name, f"wrong: {oracle_bad[name]}"))
            wrong += 1
        elif checked.get(name) != detail:
            failures.append((name, "wrong: digest differs from the "
                                   "oracle-checked result"))
            wrong += 1
        else:
            samples.append(r)
    return samples, failures, wrong


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile, or None when fewer than `min_beyond`
    samples lie above it."""
    if not values:
        return None
    v = sorted(values)
    i = max(0, math.ceil(q * len(v)) - 1)
    if len(v) - (i + 1) < min_beyond:
        return None
    return v[i]


def metrics(samples, window, setups):
    """End-to-end metrics of an untraced run: {name: (value, n)}."""
    walls = [r["wall_ms"] for r in samples]
    m = {"setup_s": (statistics.median(s["total_s"] for s in setups),
                     len(setups))}
    if walls:
        m["request_p50_ms"] = (statistics.median(walls), len(walls))
    p90 = percentile(walls, 0.9)
    if p90 is not None:
        m["request_p90_ms"] = (p90, len(walls))
    if window["untraced_ms"] > 0 and walls:
        m["requests_per_s"] = (len(walls) / (window["untraced_ms"] / 1e3),
                               len(walls))
    m["peak_heap_mb"] = (window["peak_heap_mb"], int(window["heap_samples"]))
    return m


def union_ms(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(traced, spans, jobs, cores, window, setups):
    """Per-layer metrics of a traced run: {name: (value, n)}.

    Spans are the calls into each layer (`fn` is a battery query function,
    `gen` Generator.plan, `sqlfront` SqlFront.sql, `catalyst` the physical
    plan, `exec` the row collection). A job belongs to the layer whose job
    group it carries; a job with no group (launched on a program Future)
    belongs to the span its start falls in, and is counted as ungrouped.
    Self times: gen = its span minus analysis minus eager jobs; analysis
    and optimization/planning from the QueryPlanningTracker; ops = the
    union of job time inside the query function; exec = its span.
    """
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], {})[s["layer"]] = (s["start"], s["end"])
    req_jobs, ungrouped = {}, 0
    reqs = {r["idx"]: r for r in traced}
    windows = sorted((r["start"], r["end"], r["idx"]) for r in traced)
    for j in jobs:
        if j["group"] != "-":
            req, _, layer = j["group"].partition("/")
            req = int(req[1:])
        else:
            req = next((i for a, b, i in windows if a <= j["start"] <= b), None)
            if req is None:
                continue
            layer = next((lay for lay, (a, b) in by_req.get(req, {}).items()
                          if a <= j["start"] <= b), "request")
            ungrouped += 1
        if req in reqs:
            req_jobs.setdefault(req, []).append((layer, j))

    rows = {name: [] for name, _ in PER_REQUEST}
    gap_wall = gap_self = 0.0
    for r in traced:
        sp = by_req.get(r["idx"], {})
        jl = req_jobs.get(r["idx"], [])

        def of(*layers):
            return [j for lay, j in jl if lay in layers]

        def dur(layer):
            a, b = sp.get(layer, (0.0, 0.0))
            return b - a

        analysis = r["analysis_ms"]
        fn_jobs = of("fn")
        a, b = sp.get("fn", (0.0, 0.0))
        eager = union_ms((max(j["start"], a), min(j["end"], b)) for j in fn_jobs
                         if j["end"] >= 0 and min(j["end"], b) > max(j["start"], a))
        front = "fn" if "fn" in sp else "gen" if "gen" in sp else None
        if front:
            rows["gen.self_ms"].append(max(0.0, dur(front) - analysis - eager))
        if "gen" in sp:
            rows["gen.plan_warm_ms" if r["mode"] == "warm"
                 else "gen.plan_cold_ms"].append(dur("gen"))
            rows["gen.jobs"].append(len(of("gen")))
        if "sqlfront" in sp:
            rows["sqlfront.sql_ms"].append(max(0.0, dur("sqlfront") - analysis))
        rows["catalyst.analysis_ms"].append(analysis)
        rows["catalyst.optimization_ms"].append(r["optimization_ms"])
        rows["catalyst.planning_ms"].append(r["planning_ms"])
        rows["ops.eager_ms"].append(eager)
        rows["ops.eager_jobs"].append(len(fn_jobs))
        rows["ops.eager_task_s"].append(sum(j["task_ms"] for j in fn_jobs) / 1e3)
        rows["ops.bytes_written"].append(sum(j["output"] for j in fn_jobs))
        rows["ops.bytes_read"].append(sum(j["input"] for j in fn_jobs))
        ex = of("exec")
        action = dur("exec")
        task_s = sum(j["task_ms"] for j in ex) / 1e3
        rows["exec.action_ms"].append(action)
        rows["exec.jobs"].append(len(ex))
        rows["exec.stages"].append(sum(j["stages"] for j in ex))
        rows["exec.tasks"].append(sum(j["tasks"] for j in ex))
        rows["exec.task_s"].append(task_s)
        rows["exec.busy_frac"].append(
            task_s / (action / 1e3 * cores) if action > 0 else 0.0)
        rows["exec.shuffle_bytes"].append(sum(j["shuffle_write"] for j in ex))
        rows["exec.spill_bytes"].append(sum(j["spill"] for j in ex))
        rows["jvm.gc_ms"].append(r["gc_ms"])
        self_sum = (dur(front) if front else 0.0) + dur("sqlfront") \
            + dur("catalyst") + action
        if front and dur(front) < analysis + eager:  # clipped self time
            self_sum += analysis + eager - dur(front)
        gap_wall += r["wall_ms"]
        gap_self += self_sum

    m = {}
    for name, _ in PER_REQUEST:
        vals = rows[name]
        m[name] = (statistics.median(vals) if vals else 0.0, len(vals))
        m[name + ".total"] = (float(sum(vals)), len(vals))
    exec_wall = sum(rows["exec.action_ms"]) / 1e3
    m["exec.busy_frac.total"] = (
        sum(rows["exec.task_s"]) / (exec_wall * cores) if exec_wall else 0.0,
        len(traced))
    first = setups[0]
    med = lambda k: statistics.median(s[k] for s in setups)  # noqa: E731
    m["setup.cold_s"] = (first["total_s"], 1)
    m["load.catalog_ms"] = (med("catalog_ms"), len(setups))
    m["preagg.materialize_ms"] = (first["preagg_ms"], 1)
    m["setup.warmup_s"] = (med("warmup_s"), len(setups))
    m["setup.warmup_jobs"] = (med("warmup_jobs"), len(setups))
    m["setup.settle_s"] = (window["settle_s"], 1)
    rps = lambda n, ms: n / (ms / 1e3) if ms > 0 else 0.0  # noqa: E731
    untraced = rps(window["untraced_ok"], window["untraced_ms"])
    m["trace.overhead_frac"] = (
        1.0 - rps(window["traced_ok"], window["traced_ms"]) / untraced
        if untraced else 0.0, int(window["traced_n"]))
    m["trace.ungrouped_jobs"] = (float(ungrouped), len(traced))
    m["trace.layer_gap_frac"] = (
        (gap_wall - gap_self) / gap_wall if gap_wall else 0.0, len(traced))
    return m


# ---------------------------------------------------------------------------
# Reading the engine's output
# ---------------------------------------------------------------------------

def load(out):
    env = dict(read_tsv(out / "env.tsv"))
    setups = [dict(rep=int(float(r[0])), total_s=float(r[1]), session_ms=float(r[2]),
                   catalog_ms=float(r[3]), preagg_ms=float(r[4]),
                   warmup_s=float(r[5]), warmup_jobs=float(r[6]),
                   oracle_ms=float(r[7]))
              for r in read_tsv(out / "setup.tsv")]
    checked = {r[0]: r[2] for r in read_tsv(out / "checked.tsv") if r[1] == "ok"}
    requests = [dict(idx=int(r[0]), passno=int(r[1]), name=r[2], mode=r[3],
                     traced=r[4] == "1", status=r[5], wall_ms=float(r[6]),
                     start=float(r[7]), end=float(r[8]), gc_ms=float(r[9]),
                     analysis_ms=float(r[10]), optimization_ms=float(r[11]),
                     planning_ms=float(r[12]), detail=r[13] if len(r) > 13 else "")
                for r in read_tsv(out / "requests.tsv")]
    spans = [dict(req=int(r[0]), layer=r[1], start=float(r[2]), end=float(r[3]))
             for r in read_tsv(out / "spans.tsv")]
    jobs = [dict(id=int(r[0]), group=r[1], start=float(r[2]), end=float(r[3]),
                 stages=int(r[4]), tasks=int(r[5]), task_ms=float(r[6]),
                 shuffle_write=float(r[7]), spill=float(r[8]),
                 input=float(r[9]), output=float(r[10]))
            for r in read_tsv(out / "jobs.tsv")]
    window = {k: float(v) for k, v in read_tsv(out / "window.tsv")}
    return env, setups, checked, requests, spans, jobs, window


def ceilings_report(samples):
    """Per-shape compile p50s next to the reference's CI ceilings."""
    lines = []
    for label, (limit, names) in CONFIG["workloads"]["compile"]["ceilings_ms"].items():
        for name in names:
            if name == "*warm":
                vals = [r["wall_ms"] for r in samples if r["mode"] == "warm"]
                shown = "warm repeats"
            else:
                vals = [r["wall_ms"] for r in samples
                        if r["name"] == name and r["mode"] == "cold"]
                shown = name
            if vals:
                p50 = statistics.median(vals)
                lines.append(f"  {label:<19} {shown:<20} p50 {p50:8.2f} ms "
                             f"(n={len(vals)})  ceiling < {limit} ms: "
                             f"{'within' if p50 < limit else 'over'}")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (run_engine's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    try:
        data = data_dir()
        classpath = build.build()
        requests = make_requests(a.workload, a.seed, passes=2000)
        out = run_engine(classpath, a.workload, data, requests, a.seconds,
                         a.trace == 1, cores)
        env, setups, checked, reqs, spans, jobs, window = load(out)
        oracle_bad = oracle_check(out, data)
    except (BenchError, build.BuildError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2

    samples, failures, wrong = judge(reqs, checked, oracle_bad)
    traced = [r for r in samples if r["traced"]]
    window["traced_ok"] = len(traced)
    window["untraced_ok"] = len(samples) - len(traced)
    if a.trace:
        m = layer_metrics(traced, spans, jobs, cores, window, setups)
        units = dict(per_layer_names())
    else:
        m = metrics(samples, window, setups)
        units = dict(END_TO_END)

    print(f"graft benchmark: workload={a.workload} seed={a.seed} "
          f"trace={a.trace} seconds={a.seconds}")
    print(f"host: nproc={env.get('nproc')} master={env.get('conf:spark.master')} "
          f"defaultParallelism={env.get('default_parallelism')} "
          f"spark={env.get('spark_version')} java={env.get('java_version')}")
    print("confs: " + " ".join(f"{k[5:]}={v}" for k, v in env.items()
                               if k.startswith("conf:")))
    print(f"data: {CONFIG['data']['dir']} sha256={CONFIG['data']['sha256'][:16]}")
    for name, (value, n) in m.items():
        print(f"  {name:<32} {value:14.4f} {units[name]:<6} n={n}")
    print(f"  {'error_frac':<32} {len(failures) / max(1, len(reqs)):14.4f} "
          f"ratio  ({len(failures)} of {len(reqs)} attempted)")
    for name, cause in sorted(set(failures)):
        print(f"  FAILED {name}: {cause}")
    if a.workload == "compile" and not a.trace:
        print("compile p50 vs the reference's CI ceilings (report only; "
              "graft's request runs through Spark's physical plan):")
        print("\n".join(ceilings_report(samples)))
    print(json.dumps({
        "correct": wrong == 0 and not oracle_bad,
        "attempted": len(reqs),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in m.items()},
    }))
    sys.stdout.flush()
    return 1 if wrong or oracle_bad else 0


if __name__ == "__main__":
    sys.exit(main())
