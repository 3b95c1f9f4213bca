#!/usr/bin/env python3
"""CDC replication benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <stream_serve|catalog> \
        --seed <n> --seconds <s> --trace <0|1> --traffic k=v,... [--traffic ...]

Builds the benchmark (an sbt build of its own in this directory that
compiles the program from the checkout's sources) when the sources
changed, runs one workload in a fresh JVM, checks the outputs, and prints
two JSON lines: a details line (checks, run-validity stamps, flags and
every number measured) and, last, the result line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics, measured with span tracing and the benchmark's
own Spark listener on.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
RUN_LIMIT_S = 170
# per-layer metrics of layers a workload does not run; a traced run
# reports them as 0 (no work done). Any other metric the run did not
# measure is reported as null and flagged.
NOT_EXERCISED = {
    "stream_serve": ("operators.", "catalog_", "layer.operators_"),
    "catalog": ("cdc.", "streaming.", "sinks.", "fresh_", "lookup_", "stream_drain_", "drain.",
                "ingest_", "mirror_", "gen.", "layer.cdc_", "layer.streaming_",
                "layer.sinks_"),
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Sizes and mtimes of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt when the sources changed; returns the classpath."""
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "bench-build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         HERE, env, out, deadline - time.time())
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines)
               if os.pathsep in l and ".jar" in l and " " not in l), None)
    if rc != 0 or cp is None:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def run_bounded(cmd, cwd, env, out, budget):
    """Runs `cmd` in its own process group; kills the group past `budget`
    seconds and waits for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, budget))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(p.pid, signal.SIGKILL)


def catalog_check(results_dir):
    """Checks the catalog run's outputs: every written result against its
    DuckDB oracle with the repository's own checker, and every timed
    execution's row count against the written result's. Returns
    (checks, failed operations)."""
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(results_dir, "timed_rows.json")) as f:
        timed = json.load(f)
    checks, failed = {}, 0
    with contextlib.redirect_stdout(sys.stderr):
        for name, sql in sorted(oracle.items()):
            checks[f"oracle_{name}"] = check.compare_one(con, results_dir, name, sql)
            failed += 0 if checks[f"oracle_{name}"] else 1
    for name, counts in timed.items():
        want = con.sql(f"SELECT count(*) FROM '{results_dir}/{name}/*.parquet'").fetchone()[0]
        bad = sum(1 for n in counts if n is not None and n != want)
        checks[f"rows_{name}"] = bad == 0 and None not in counts
        failed += bad
    return checks, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # traffic settings, k=v,...; may be given several times
    ap.add_argument("--traffic", action="append", default=[])
    a = ap.parse_args()
    started = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program is missing from this checkout ({need})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    # the first run in a checkout builds; build and run fit in 900 s
    cp = build(started + 900 - RUN_LIMIT_S - 20)
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    # a fixed heap and the throughput collector: heap resizing and
    # concurrent GC threads made the drain rate vary from run to run. A
    # fixed number of JIT compiler threads: the benchmark leaves their
    # CPU time out of its CPU metrics, read per thread
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores),
              "--work", work, "--out", result_file, "--traffic", ",".join(a.traffic),
              "--data", DATA])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_bounded(cmd, ROOT, dict(os.environ), out,
                         deadline - time.time() - 10)
    try:
        with open(result_file) as f:
            res = json.load(f)
    except (OSError, ValueError):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run produced no result (jvm exit {rc})")

    checks = dict(res["checks"])
    failed = res["failed"]
    if a.workload == "catalog" and res["error"] is None:
        more, bad = catalog_check(os.path.join(work, "results"))
        checks.update(more)
        failed += bad
    correct = bool(res["correct"]) and all(checks.values())

    measured = {k: v for k, v in res["metrics"].items() if v["value"] is not None}
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics, not_exercised, missing = {}, [], []
    for m in wanted:
        if m["name"] in measured:
            metrics[m["name"]] = {"value": measured[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace == 1 and m["name"].startswith(NOT_EXERCISED[a.workload]):
            # a layer this workload does not run did no work in it
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            not_exercised.append(m["name"])
        else:
            # the workload should have measured this and did not
            metrics[m["name"]] = {"value": None, "unit": m["unit"]}
            missing.append(m["name"])
    flags = list(res["flags"])
    if missing:
        flags.append("not measured: " + ", ".join(missing))
        if a.trace == 0:
            correct = False
    details = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "error": res["error"], "checks": checks, "flags": flags,
        "stamps": {k: measured[k]["value"] for k in (
            "host.load_start", "host.load_end", "gen.late_ms_p99",
            "streaming.backlog_end_rows", "runtime.peak_rss_mb", "host.steal_share")
            if k in measured},
        "measured": {k: v["value"] for k, v in measured.items()},
        "not_exercised": not_exercised, "missing": missing, "details": res["details"],
        "wall_s": round(time.time() - started, 3)}
    os.makedirs(WORK, exist_ok=True)
    last = os.path.join(WORK, f"last-{a.workload}-trace{a.trace}")
    with open(last + ".json", "w") as f:
        json.dump(details, f, indent=1)
    shutil.copyfile(log, last + ".log")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"details": details}, separators=(",", ":")))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
