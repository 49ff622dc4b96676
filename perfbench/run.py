#!/usr/bin/env python3
"""Layered 4-core benchmark of the graft engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload graph_sf01 --seed 1 --seconds 12 --trace 0

One run builds the engine and the runner from source if needed, prepares
the workload's data and expected results, starts one JVM at local[4],
runs an untimed set-up pass, timed passes for about --seconds, and one check
pass whose outputs are compared with each key's DuckDB oracle. With
--trace 1 it adds traced passes, layer counters and probes. The last
line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
RUNS = os.path.join(HERE, "runs")
TRACES = os.path.join(HERE, "traces")
RUN_LIMIT_S = 175
PROBE_SF = "sf0.1"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Row counts every prepared data directory must have before it is used.
MANIFEST = {
    "sf0.1": {"region": 5, "nation": 25, "customer": 15000,
              "supplier": 1000, "part": 20000, "orders": 150000,
              "lineitem": 600000, "events": 100000, "documents": 5000,
              "embeddings": 2000},
    "sf1": {"region": 5, "nation": 25, "customer": 150000,
            "supplier": 10000, "part": 200000, "orders": 1500000,
            "lineitem": 6000000, "events": 1000000, "documents": 50000,
            "embeddings": 20000},
}
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("query_tail_s", "s"), ("pass_cpu_s", "s"),
              ("peak_rss_mb", "MB")]
# JDK packages Spark needs opened, shared with build.sbt
with open(os.path.join(HERE, "jdk-opens.txt")) as f:
    JDK_OPENS = f.read().split()


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def load_tool(name):
    """A module from the checkout's tools/ directory."""
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def load_spec():
    """Workload key lists, and the per-layer metric names and units
    declared in the checkout's BENCHMARK.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    return {"workloads": workloads, "per_layer": per_layer}


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the runner with sbt once per source
    digest; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench.classpath")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    log("perfbench: building engine and runner with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines()
             if "scala-2.13" + os.sep + "classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    print(f"build_s {time.time() - t0:.3f} s")
    return lines[-1]


# ----------------------------------------------------------------- data

def row_counts(con, d):
    return {t: con.execute(
        f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet')").fetchone()[0]
        for t in TABLES if os.path.exists(f"{d}/{t}.parquet")}


def prepare_data(sf):
    """The workload's tables under perfbench/data/<sf>, checked against
    MANIFEST. sf0.1 is a copy of the fixed read-only testdata; sf1 is
    derived from it with tools/make_sf1.py. A stale or partial directory
    is rebuilt, never measured."""
    import duckdb
    out = os.path.join(DATA, sf)
    con = duckdb.connect()
    if os.path.isdir(out) and row_counts(con, out) == MANIFEST[sf]:
        return out
    t0 = time.time()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    src = load_tool("make_sf1").SRC
    if sf == "sf0.1":
        shutil.copytree(src, tmp)
    else:
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "make_sf1.py"),
                        tmp], check=True, stdout=subprocess.DEVNULL, timeout=600)
    got = row_counts(con, tmp)
    if got != MANIFEST[sf]:
        raise SystemExit(f"perfbench: {sf} does not match its manifest: {got}")
    os.replace(tmp, out)
    print(f"datagen_s {time.time() - t0:.3f} s ({sf})")
    return out


def expected(data_dir, sf, oracle):
    """Oracle results per key, computed once with DuckDB and cached
    beside the data, keyed by the oracle SQL and the data manifest."""
    import duckdb
    import pandas as pd
    cache = os.path.join(DATA, "expected", sf)
    os.makedirs(cache, exist_ok=True)
    con = None
    res = {}
    for key, sql in oracle.items():
        tag = hashlib.sha256((sql + json.dumps(MANIFEST[sf])).encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{key}-{tag}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET enable_progress_bar = false")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet')")
            con.execute(sql).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        res[key] = pd.read_pickle(path)
    return res


# ---------------------------------------------------------------- stats

def tail_percentile(samples, beyond=10):
    """The highest integer percentile p (nearest rank) with at least
    `beyond` samples above its rank. Returns (p, value) or None when
    there are too few samples for any percentile."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1]
    return None


def fail_accounting(rec, mismatched):
    """(attempted, failed): every timed key run plus every check run;
    a run that threw or a check output that does not match fails."""
    timed = [f for f in rec["failures"] if f["pass"] >= 1]
    attempted = len(rec["samples"]) + len(timed) + len(rec["keys"])
    check_thrown = {f["key"] for f in rec["check_failures"]}
    return attempted, len(timed) + len(check_thrown | set(mismatched))


def compare_outputs(out, exp):
    compare = load_tool("local_verify").compare
    import pandas as pd
    bad = {}
    for key, edf in exp.items():
        files = sorted(glob.glob(os.path.join(out, "check", key, "*.parquet")))
        if not files:
            continue  # threw in the check pass; counted there
        try:
            gdf = pd.concat([pd.read_parquet(f) for f in files],
                            ignore_index=True)
            ok = compare(gdf, edf)
            if not ok[2]:
                bad[key] = ok[3] or "mismatch"
        except Exception as ex:  # unsortable or unreadable output
            bad[key] = f"{type(ex).__name__}: {ex}"
    return bad


def dir_mb(d):
    total = 0
    for p, _, fs in os.walk(d):
        for f in fs:
            fp = os.path.join(p, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total / 1048576.0


# ------------------------------------------------------------------ run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    needed = [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join(ROOT, "tools", "local_verify.py"),
              os.path.join(ROOT, "tools", "make_sf1.py"),
              os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log(f"perfbench: not a checkout of the engine, missing {missing}")
        return 2
    spec = load_spec()
    if a.workload not in spec["workloads"]:
        log(f"perfbench: unknown workload {a.workload}")
        return 2
    wl = spec["workloads"][a.workload]
    keys = wl["keys"]
    # A fixed pass count per --seconds keeps the sample count, and with
    # it the tail percentile's rank, the same in every run.
    passes = max(2, math.ceil(a.seconds / wl["pass_estimate_s"]))

    cp = build()
    data_dir = prepare_data(wl["sf"])
    # probes always read the sf0.1 tables: on the sf1 tables they push a
    # traced run past RUN_LIMIT_S
    probe_dir = prepare_data(PROBE_SF) if a.trace else data_dir

    scratch = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("tmp", "local", "out"):
        os.makedirs(os.path.join(scratch, sub))
    out = os.path.join(scratch, "out")
    try:
        # a fixed heap and young generation keep peak RSS from following
        # the collector's adaptive sizing
        cmd = (["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-Dspark.ui.enabled=false",
                f"-Djava.io.tmpdir={scratch}/tmp"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Main", "--keys", ",".join(keys),
                  "--seed", str(a.seed), "--passes", str(passes),
                  "--trace", str(a.trace), "--data", data_dir,
                  "--probe-data", probe_dir,
                  "--scratch", scratch])
        limit = RUN_LIMIT_S - (time.time() - t_start)
        t_launch = time.time()
        with open(os.path.join(scratch, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(limit, 1))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        result = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(scratch, "jvm.log")) as f:
                log(f.read()[-4000:])
            log(f"perfbench: engine run failed ({rc})")
            return 1
        t_exit = time.time()
        with open(result) as f:
            rec = json.load(f)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        mismatched = compare_outputs(out, expected(data_dir, wl["sf"], oracle))
        tmp_left_mb = dir_mb(os.path.join(scratch, "tmp")) + \
            dir_mb(os.path.join(scratch, "local"))
        if a.trace:
            os.makedirs(TRACES, exist_ok=True)
            shutil.copyfile(os.path.join(out, "spans.jsonl"), os.path.join(
                TRACES, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    t_done = time.time()
    rel = lambda ms: ms / 1000.0 - t_launch
    print(f"timeline_s launch 0 timed_end {rel(rec['timed_end_epoch_ms']):.2f} "
          f"check_end {rel(rec['check_end_epoch_ms']):.2f} "
          f"jvm_exit {t_exit - t_launch:.2f} done {t_done - t_launch:.2f} "
          f"(run start {t_start - t_launch:.2f}); check pass per key: "
          + ", ".join(f"{k} {v:.2f}" for k, v in rec["check_keys"].items()))
    for f in rec["failures"]:
        log(f"FAIL {f['key']} pass {f['pass']} in {f['phase']}: {f['error']}")
    for f in rec["check_failures"]:
        log(f"FAIL {f['key']} check pass: {f['error']}")
    for k, why in mismatched.items():
        log(f"FAIL {k} output check: {why}")

    untraced = [p for p in rec["passes"] if p["traced"] is False]
    lat = [s["seconds"] for s in rec["samples"] if
           any(p["pass"] == s["pass"] for p in untraced)]
    tail = tail_percentile(lat)
    attempted, failed = fail_accounting(rec, mismatched)
    e2e = {
        "setup_s": rec["first_pass_epoch_ms"] / 1000.0 - t_launch,
        "pass_s": statistics.median([p["wall_s"] for p in untraced]),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail[1] if tail else max(lat),
        "pass_cpu_s": statistics.median([p["cpu_s"] for p in untraced]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    print(f"session_s {rec['session_ready_epoch_ms'] / 1000.0 - t_launch:.3f} s "
          f"(of setup_s; set-up pass per key: "
          + ", ".join(f"{k} {v:.2f}" for k, v in rec["setup_keys"].items()) + ")")
    for name, unit in END_TO_END:
        extra = ""
        if name == "query_tail_s":
            extra = f" (p{tail[0] if tail else 100}, n={len(lat)})"
        if name == "pass_s":
            extra = (f" (keys={len(keys)}, passes: "
                     + " ".join(f"{p['wall_s']:.3f}" for p in untraced) + ")")
        print(f"{name} {e2e[name]:.6f} {unit}{extra}")
    print(f"fail_frac {failed / attempted:.6f} ratio (ops_attempted={attempted})")

    if a.trace:
        layers = dict(rec["layers"])
        layers["io.tmp_left_mb"] = tmp_left_mb
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for name in units:
            print(f"{name} {layers[name]} {units[name]}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in units.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
