#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 20 --trace 0

Steps, from the root of a source checkout:
1. build: compile src/main/scala and perfbench/scala into the build dir
   ($CARGO_TARGET_DIR or .bench_build), skipped when the sources are
   unchanged;
2. prepare: generate the workload's inputs from the seed (gen.py) and the
   DuckDB results of each key's oracle SQL on them; both are cached per
   seed under .bench_cache and are not part of any timing;
3. run: one JVM (perfbench/scala/Harness.scala) in its own working and
   temp directory, removed afterwards;
4. check every key's output against its oracle result with the compare
   rules of tools/check.py; a key that throws or differs counts as failed
   in every pass and its times are left out;
5. print one JSON object: correct, attempted, failed and the metrics
   (end-to-end with --trace 0, per-layer with --trace 1).

`--keys a,b` restricts the run to some of the workload's keys.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pandas as pd

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
try:
    import check  # tools/check.py: the compare rules of the correctness gate
except ImportError:
    check = None
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
KEEP_SEEDS = 12

# Each workload: relational scale, corpus sizes and keys.
WORKLOADS = {
    "reports": dict(
        sf=0.01, docs=500, embs=500,
        keys="""q01_case_scan q05_dim_join q07_sessionize d22_minhash_lsh
        st35_stream_dedup st39_stream_file_sink q40_multi_format
        d26_dup_clusters""".split()),
    "corpus": dict(
        sf=0.001, docs=20000, embs=4000,
        keys="""t30_tokencount t40_entropy t31_fingerprint d21_exact_dedup
        s26_ann_topk""".split()),
}
# tracer counters that are peaks, taken as the max over a pass; the
# others are summed over the pass's queries
PEAKS = {"exec.peak_mem_mb", "exec.max_task_skew"}


def declared_units(trace):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def build():
    """Compiles the program and the harness; returns the classes dir."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not program:
        fail(f"no program sources under {ROOT}/src/main/scala")
    if check is None:
        fail(f"no tools/check.py under {ROOT}")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS!r}: set SPARK_HOME to a Spark 4 install")
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp] + program + harness,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    r = subprocess.run(java_cmd(tmp, "graftbench.OracleSql", os.path.join(tmp, "oracle_sql.json"),
                                heap="512m"), stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("could not write the oracle SQL")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def java_cmd(classes, main, *args, heap=JVM_HEAP, props=()):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"-D{k}={v}" for k, v in props]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(SPARK_JARS, '*')}", main]
    return cmd + list(args)


# -------------------------------------------------------------- prepare

def cache_dir(*parts):
    return os.path.join(ROOT, ".bench_cache", *parts)


def prune(parent, prefix):
    """Keeps the KEEP_SEEDS most recently used cache entries of a workload."""
    entries = sorted(glob.glob(os.path.join(parent, prefix + "*")), key=os.path.getmtime)
    for e in entries[:-KEEP_SEEDS]:
        shutil.rmtree(e, ignore_errors=True)


def prepare(workload, seed, force=False):
    """Builds, then makes (or reuses) the inputs and oracle results of one
    seed. Returns (classes, input dir, oracle dir)."""
    w = WORKLOADS[workload]
    classes = build()
    # the inputs depend on the seed, the sizes and the generator's source
    h = hashlib.sha256(json.dumps([w["sf"], w["docs"], w["embs"]]).encode())
    with open(gen.__file__, "rb") as fh:
        h.update(fh.read())
    tag = f"{workload}-s{seed}-{h.hexdigest()[:12]}"
    inputs = cache_dir("inputs", tag)
    if force or not os.path.exists(os.path.join(inputs, "DONE")):
        shutil.rmtree(inputs, ignore_errors=True)
        gen.generate(inputs, seed, w["sf"], w["docs"], w["embs"])
        open(os.path.join(inputs, "DONE"), "w").close()
    os.utime(inputs)
    prune(cache_dir("inputs"), workload + "-s")

    with open(os.path.join(classes, "oracle_sql.json")) as fh:
        sqls = {k: v for k, v in json.load(fh).items() if k in w["keys"]}
    digest = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:12]
    oracle = cache_dir("oracle", f"{tag}-{digest}")
    if force or not os.path.exists(os.path.join(oracle, "DONE")):
        shutil.rmtree(oracle, ignore_errors=True)
        os.makedirs(oracle)
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{oracle}/tmp'")
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
        for k in w["keys"]:
            try:
                df = con.execute(sqls[k]).fetchdf()
            except Exception as e:  # an oracle that cannot run fails its key
                df = f"oracle error: {e}"
            pd.to_pickle(df, os.path.join(oracle, f"{k}.pkl"))
        con.close()
        open(os.path.join(oracle, "DONE"), "w").close()
    os.utime(oracle)
    prune(cache_dir("oracle"), workload + "-s")
    return classes, inputs, oracle


# ---------------------------------------------------------------- check

def check_key(got_dir, want_file):
    """None when the output matches the oracle result, else the reason.
    These are the compare steps of tools/check.py's main, on its `norm`:
    sorted columns and rows, no int/float drift, equal row counts, exact
    values."""
    want = pd.read_pickle(want_file)
    if isinstance(want, str):
        return want
    if not glob.glob(os.path.join(got_dir, "*.parquet")):
        return "no output"
    got, want = check.norm(pd.read_parquet(got_dir)), check.norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    drift = [c for c in got.columns
             if pd.api.types.is_integer_dtype(got[c]) != pd.api.types.is_integer_dtype(want[c])
             and pd.api.types.is_numeric_dtype(got[c]) and pd.api.types.is_numeric_dtype(want[c])]
    if drift:
        return f"int/float drift on {drift}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=0, atol=0)
    except AssertionError as e:
        return "values differ: " + str(e)[:300]
    return None


# -------------------------------------------------------------- metrics

def end_to_end(res, ok):
    """No tail percentile: a run holds 24-32 executions, and a p90 over
    fewer than forty has at most three samples beyond it."""
    times = {}
    for e in ok:
        times.setdefault(e["key"], []).append(e["build_s"] + e["run_s"])
    every = [t for ts in times.values() for t in ts]
    return {
        "setup_s": res["setup_s"],
        "pass_s": sum(statistics.median(ts) for ts in times.values()),
        "query_p50_s": statistics.median(every),
        "retained_heap_mb": res["retained_heap_mb"],
    }


def per_layer(res, ok, names):
    """Per-pass figures, as the median over the timed passes."""
    by_pass = {}
    for e in ok:
        by_pass.setdefault(e["pass"], []).append(e)

    def per_pass(f):
        return statistics.median([f(es) for es in by_pass.values()])

    m = {"GraftSession.start_s": res["session_start_s"],
         "Tables.load_s": statistics.median(res["tables_load_s"]),
         "operators.build_s": per_pass(lambda es: sum(e["build_s"] for e in es)),
         "operators.run_s": per_pass(lambda es: sum(e["run_s"] for e in es)),
         "sources.files_written": statistics.median(res["pass_files"])}
    m.update({f"functions.{f}.rows_per_s": v for f, v in res["function_rows_per_s"].items()})
    for name in names:
        if name not in m:
            agg = max if name in PEAKS else sum
            m[name] = per_pass(lambda es: agg(e["layers"].get(name, 0.0) for e in es))
    return m


# ------------------------------------------------------------------ run

def run(workload, seed, seconds, trace, keys=None):
    start = time.time()
    keys = keys or WORKLOADS[workload]["keys"]
    classes, inputs, oracle = prepare(workload, seed)
    run_dir = os.path.join(ROOT, ".bench_runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "check"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    trace_out = os.path.join(ROOT, ".bench_out", f"trace-{workload}-s{seed}.json")
    result = os.path.join(run_dir, "result.json")
    props = [("java.io.tmpdir", os.path.join(run_dir, "tmp")),
             ("spark.local.dir", os.path.join(run_dir, "local")),
             ("derby.system.home", run_dir)]
    spawn_ms = int(time.time() * 1000)
    cmd = java_cmd(classes, "graftbench.Harness",
                   "--spawn-ms", str(spawn_ms), "--data", inputs, "--keys", ",".join(keys),
                   "--seconds", str(seconds), "--trace", str(trace), "--check-out", os.path.join(run_dir, "check"),
                   "--trace-out", trace_out, "--result", result, props=props)
    log = os.path.join(run_dir, "jvm.log")
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("run exceeded its time limit")
            except BaseException:  # interrupted or terminated: never leave the JVM behind
                proc.kill()
                proc.wait()
                raise
        if proc.returncode != 0 or not os.path.exists(result):
            sys.stderr.write(open(log, errors="replace").read()[-4000:])
            fail(f"harness exited with {proc.returncode}")
        with open(result) as fh:
            res = json.load(fh)
        bad = dict(res["check_errors"])
        for k in keys:
            if k not in bad:
                why = check_key(os.path.join(run_dir, "check", k), os.path.join(oracle, f"{k}.pkl"))
                if why:
                    bad[k] = why
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for k, why in sorted(bad.items()):
        print(f"FAILED {k}: {why}", file=sys.stderr)
    execs = res["execs"]
    ok = [e for e in execs if e["error"] is None and e["key"] not in bad]
    if not ok:
        fail("every operation failed")
    units = declared_units(trace)
    metrics = per_layer(res, ok, units) if trace else end_to_end(res, ok)
    if set(units) != set(metrics):
        fail(f"metrics {sorted(set(units) ^ set(metrics))} differ from BENCHMARK.json")
    return {
        # false when an output differed from its oracle or a key threw
        "correct": not bad and all(e["error"] is None for e in execs),
        "attempted": len(execs),
        "failed": len(execs) - len(ok),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one seed")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keys", help="comma-separated subset of the workload's keys")
    a = ap.parse_args()
    keys = None
    if a.keys:
        keys = [k for k in a.keys.split(",") if k]
        unknown = set(keys) - set(WORKLOADS[a.workload]["keys"])
        if unknown:
            fail(f"not keys of {a.workload}: {sorted(unknown)}")
    out = run(a.workload, a.seed, a.seconds, a.trace, keys)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
