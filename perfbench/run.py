#!/usr/bin/env python3
"""Repository benchmark: crawl-steady, crawl-throttled and query-suite.

Run from the repository root:

    python3 perfbench/run.py --workload crawl-steady --seed 1 --seconds 16 --trace 0

The script compiles the project sources and the benchmark sources (once per
source tree, into .bench_build/), runs one JVM for the workload, checks the
outputs, and prints one JSON line as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.

`--selftest` runs every workload at tiny scale and checks that every metric is
printed with its unit and that a corrupted output fails the correctness check.
See perfbench/README.md.
"""
import argparse
import decimal
import datetime
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl-steady", "crawl-throttled", "query-suite")
JVM_DEADLINE_S = 165.0
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory, read from the project's build.sbt."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("build.sbt not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no project sources under src/main/scala")
    return main + bench


def build(jars):
    """Compiles the project and benchmark sources with the Scala compiler that
    ships among the Spark jars; reuses the classes while the sources match."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-cp", cp, "-d", classes, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, ".complete"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def heap_gb():
    """Half the machine's memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(classes, jars, args, work, out, trace_out, data, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=2000",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--trace-out", trace_out, "--data", data,
            "--scale", args.scale, "--corrupt", "1" if args.corrupt else "0"]
    log_path = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"workload stopped before it finished; log: {log_path}")
        signal.signal(signal.SIGTERM, stop)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop()
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM exited with {p.returncode}; log tail:\n{tail}")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ oracle

def norm(v):
    """A value in a form both engines agree on: numbers rounded to 6
    decimals (integral ones as int), nested values as tuples."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        r = round(f, 6)
        return int(r) if r == int(r) and abs(r) < 2 ** 53 else r
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def digest(columns, rows):
    """Row count and an order-independent digest of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return [len(rows), h.hexdigest()]


def oracle_check(work, data, names, corrupt):
    """(checked, failed, messages): each query's result against the DuckDB
    oracle SQL over the same tables; expected values are derived once per
    (SQL, input) and kept under .bench_build/oracle."""
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    dh = hashlib.sha256()
    for t in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        with open(t, "rb") as f:
            dh.update(f.read())
    cache_path = os.path.join(BUILD, "oracle", "expected.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    checked = failed = 0
    msgs = []
    for i, name in enumerate(names):
        checked += 1
        key = hashlib.sha256((sql[name] + dh.hexdigest()).encode()).hexdigest()
        try:
            if key not in cache:
                res = con.execute(sql[name])
                cache[key] = digest([d[0] for d in res.description], res.fetchall())
            res = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(work, 'qout', name)}/*.parquet')")
            rows = res.fetchall()
            if corrupt and i == 0:
                rows = rows + rows[:1] if rows else [tuple(None for _ in res.description)]
            got = digest([d[0] for d in res.description], rows)
            if got != cache[key]:
                failed += 1
                msgs.append(f"{name}: rows/digest {got} != expected {cache[key]}")
        except Exception as e:  # a result DuckDB cannot read is a failed check
            failed += 1
            msgs.append(f"{name}: {type(e).__name__}: {e}")
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_path + ".tmp", cache_path)
    return checked, failed, msgs


# ------------------------------------------------------------------ run

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(args):
    t_start = time.time()
    spec = load_spec()
    jars = spark_jars()
    classes = build(jars)
    data = os.path.join(BENCH, "data", "sf0.001" if args.scale == "tiny" else "sf0.01")
    if not os.path.isdir(data):
        raise BenchError(f"query input {data} missing")
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classes, jars, args, work, out, trace_out, data,
                      time.time() + JVM_DEADLINE_S)
        checked, ofailed, msgs = oracle_check(work, data, res["oracle_queries"], args.corrupt)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = res["attempted"] + checked
    failed = res["failed"] + ofailed
    for m in res["failures"] + msgs:
        log("check failed: " + m)
    values = res["layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            raise BenchError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    log(f"failed_ops_frac={failed / max(1, attempted):.6f} "
        f"(failed {failed} of {attempted} rounds, queries and checks); "
        f"wall {time.time() - t_start:.1f} s")
    if args.trace:
        log(f"spans: {os.path.relpath(trace_out, ROOT)}")
    return {"correct": failed == 0, "attempted": max(1, attempted),
            "failed": failed, "metrics": metrics}


def selftest():
    """Tiny-scale run of every workload in both modes, plus corrupted runs."""
    spec = load_spec()
    problems = []

    def sub(workload, trace, corrupt=False):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
               "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
        if corrupt:
            cmd.append("--corrupt")
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            problems.append(f"{workload} trace={trace} corrupt={corrupt}: exit {r.returncode}")
            return None
        return json.loads(lines[-1])

    for w in WORKLOADS:
        for trace in (0, 1):
            res = sub(w, trace)
            if res is None:
                continue
            want = spec["per_layer" if trace else "end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or unit wrong")
            if set(res["metrics"]) != {m["name"] for m in want}:
                problems.append(f"{w} trace={trace}: unexpected metric names")
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: correctness check failed")
            log(f"selftest {w} trace={trace}: {len(res['metrics'])} metrics, "
                f"correct={res['correct']}")
    for w in ("crawl-steady", "query-suite"):
        res = sub(w, 0, corrupt=True)
        if res is not None and (res["correct"] or res["failed"] == 0):
            problems.append(f"{w}: corrupted output passed the correctness check")
        elif res is not None:
            log(f"selftest {w} corrupted: correct={res['correct']} failed={res['failed']}")
    for p in problems:
        log("SELFTEST PROBLEM: " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output before the checks (self-test only)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    try:
        if args.selftest:
            return selftest()
        if not args.workload:
            ap.error("--workload is required")
        print(json.dumps(run_once(args)), flush=True)
        return 0
    except BenchError as e:
        log(str(e))
        return 2


if __name__ == "__main__":
    sys.exit(main())
