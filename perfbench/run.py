#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload research|stream --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark harness with sbt (offline) and caches the classpath under
`.bench_build/`. Each seed's inputs are generated once, by
`graft.sources.MockDataGen`, and verified against their fingerprint on
every run; the workloads see only the files. The JVM times the workload;
this script then checks
its outputs (DuckDB mirrors of `SparkEntry.oracleSql`, cached per input
fingerprint and SQL text; stream/batch parity for the stream lanes),
prints a detail line and, last, one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("research", "stream")
RUN_LIMIT_S = 170          # a run, builds excepted, ends within this
BUILD_LIMIT_S = 850

# The JVM flags Spark 4 on JDK 17 needs outside spark-submit.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, cwd, env, log_path, timeout):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns (exit code, seconds)."""
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
    return rc, time.monotonic() - t0


def tail(path, n=20):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    """Hash of every file the build reads: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in fs if f.endswith((".scala", ".sbt", ".properties", ".java")))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    rc, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, env, log, BUILD_LIMIT_S)
    lines = [l.strip() for l in tail(log, 5).splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {rc}):\n{tail(log)}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def heap_gb():
    """JVM heap in GB: half of RAM, clamped to 2-8, the rule the test suite uses."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return min(8, max(2, g))


def jvm(cp, args, work, log, timeout, cores, heap):
    """Runs perfbench.Main. The heap is fixed in size, and so is its young
    generation (a quarter of it): with adaptive sizing, how much of the
    heap a run touched, and so its resident set, varied by a fifth from run
    to run."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", f"-Xmn{heap * 256}m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + args)
    return run_proc(cmd, ROOT, env, log, timeout)


# ---------------------------------------------------------------- checks

def digest(df):
    """Order-sensitive digest of a result with columns sorted by name and
    values compared as strings, the rule tools/check_oracle.py applies."""
    df = df[sorted(df.columns)]
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for c in df.columns:
        h.update("\x1f".join(df[c].astype(str).tolist()).encode())
        h.update(b"\x1e")
    return h.hexdigest(), len(df)


def oracle_checks(result, inputs):
    """Verdict per oracle check: the Spark output's digest against its DuckDB
    mirror's. Mirror results are cached per (fingerprint, SQL text)."""
    checks = [c for c in result["checks"] if c["kind"] == "oracle"]
    if not checks:
        return {}
    import duckdb
    con = duckdb.connect()
    # Spark writes each table as a directory of part files.
    for name in sorted(os.listdir(inputs)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, name)}/*.parquet')")
    cache_dir = os.path.join(BUILD, "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    fp = json.dumps(result["fingerprint"], sort_keys=True)
    verdicts = {}
    for c in checks:
        key = hashlib.sha256((fp + "\0" + c["sql"]).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                want = json.load(f)
        else:
            d, n = digest(con.execute(c["sql"]).df())
            want = {"digest": d, "rows": n}
            with open(path, "w") as f:
                json.dump(want, f)
        try:
            got, rows = digest(con.execute(
                f"SELECT * FROM read_parquet('{c['output']}/*.parquet')").df())
        except Exception as e:  # no output written: the first call threw
            got, rows = f"unreadable: {e}", -1
        verdicts[c["name"]] = {"ok": got == want["digest"], "rows": rows,
                               "expected_rows": want["rows"]}
    return verdicts


def judge(result, verdicts):
    """Marks each call failed or not. A call fails if it threw, if its first
    call's output missed the mirror, if a later call's row count differs
    from the verified one, or if its stream lane missed batch parity."""
    parity = {c["name"]: c for c in result["checks"] if c["kind"] == "parity"}
    failed = []
    for c in result["calls"]:
        v = verdicts.get(c["check"])
        p = parity.get(c["check"])
        bad = c["error"] is not None
        if v is not None:
            first = c["phase"] in ("prime", "trace")
            bad |= (not v["ok"]) if first else c["rows"] != v["expected_rows"]
        if p is not None:
            bad |= not p["ok"]
        if v is None and p is None:
            bad = True  # nothing verified this call
        if bad:
            failed.append(c)
    return failed


# --------------------------------------------------------------- metrics

def pct(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(result):
    """The BENCHMARK.json metrics over the primary calls (queries on
    research, tick-lane triggers on stream), and each workload's own."""
    timed = [c for c in result["calls"] if c["phase"] == "timed"]
    primary = [c for c in timed if c["kind"] in ("query", "trigger")]
    ms = [c["ms"] for c in primary]
    setup_s = (result["setup_ms"]["session_ms"] + result["setup_ms"]["prime_ms"]) / 1000
    uniform = {
        "setup_s": setup_s,
        "call_p50_ms": statistics.median(ms),
        "call_p90_ms": pct(ms, 90),
        "rows_per_s": sum(c["input_rows"] for c in primary) / (sum(ms) / 1000),
        "peak_rss_mb": result["peak_rss_mb"],
    }

    def first_s(name):
        return next((c["ms"] / 1000 for c in result["calls"] if c["name"] == name
                     and c["phase"] in ("prime", "trace")), None)

    def rate(names):
        cs = [c for c in timed if c["name"] in names]
        return sum(c["input_rows"] for c in cs) / (sum(c["ms"] for c in cs) / 1000)

    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (result["peak_rss_mb"], "MB")}
    if result["workload"] == "research":
        named.update(query_p50_ms=(uniform["call_p50_ms"], "ms"),
                     query_p90_ms=(uniform["call_p90_ms"], "ms"),
                     queries_per_s=(len(ms) / (sum(ms) / 1000), "1/s"),
                     market_job_s=(first_s("q_market_job_summary"), "s"))
    else:
        named.update(ticks_per_s=(uniform["rows_per_s"], "1/s"),
                     trigger_p50_ms=(uniform["call_p50_ms"], "ms"),
                     trigger_p90_ms=(uniform["call_p90_ms"], "ms"),
                     docs_per_s=(rate(("ingest",)), "1/s"),
                     corpus_job_s=(first_s("corpus_job"), "s"))
    return uniform, named, len(ms)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    with open(bench_file) as f:
        spec = json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    t_run = time.monotonic()  # the time limit counts from here

    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    inputs = os.path.join(BUILD, "inputs", f"seed-{a.seed}")
    os.makedirs(inputs, exist_ok=True)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    rc, _ = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--inputs", inputs, "--work", work, "--out", out],
                work, log, RUN_LIMIT_S - 25 - (time.monotonic() - t_run), cores, heap)
    if rc != 0 or not os.path.exists(out):
        fail(f"{a.workload} run failed (exit {rc}):\n{tail(log)}", 5)
    with open(out) as f:
        result = json.load(f)

    verdicts = oracle_checks(result, inputs)
    failed = judge(result, verdicts)
    attempted = len(result["calls"])
    uniform, named, samples = end_to_end(result)
    named["failed_ratio"] = (len(failed) / attempted, "ratio")

    if a.trace:
        layers = result["layers"]
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = []
        metrics = {m["name"]: {"value": uniform[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "fingerprint": result["fingerprint"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "result": metrics,
        "timed_calls": samples, "units": len(result["units"]),
        "setup_ms": result["setup_ms"],
        "checks": {"oracle": verdicts,
                   "parity": [c for c in result["checks"] if c["kind"] == "parity"]},
        "calls": [[c["name"], c["phase"], c["unit"], round(c["ms"], 3), c["input_rows"]]
                  for c in result["calls"]],
        "failed_calls": [{k: c[k] for k in ("name", "phase", "unit", "rows", "error")}
                         for c in failed],
        "not_measured": missing,
        "hygiene": {"cores": cores, "heap_gb": heap, "heap_max_mb": result["heap_max_mb"],
                    "gc_and_cleaner_drain_between_units": True,
                    "loadavg_before": result["loadavg_before"],
                    "loadavg_after": result["loadavg_after"]},
    }
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    tag = f"{a.workload}-{a.seed}-trace{a.trace}"
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(BUILD, "traces", tag + ".json"))
    print(json.dumps(detail))
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
