#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one fresh JVM.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
program with the harness (perfbench/build.sbt), derives the x10 fixture
and computes the DuckDB oracle digests; later runs reuse them. Everything
a run writes lands under .bench_build/perfbench in the checkout.

A run starts the harness JVM with local[4] on the workload's fixture. It
times a cold pass (a new session, so every session store is built on first
use), then warm passes until the run has measured --seconds, then writes
each query's output and checks it against the oracle outside the timed
region. The seed permutes the query order within every pass.

The last line of standard output is one JSON object: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of the cold pass.
Any failure before that exits non-zero with the cause on standard error and
prints no result line.
"""

import argparse
import ctypes
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import oracle  # noqa: E402
import spans  # noqa: E402
from workloads import MODULE, WORKLOADS  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
FIXTURES = os.path.join(BENCH, "fixtures")
BASE_FIXTURE = os.path.join(FIXTURES, "sf0.1")
X10_FIXTURE = os.path.join(WORK, "fixtures", "x10")
# Two of the host's four cores run tasks; the others are left to the JIT,
# the collector and the driver. With all four running tasks, warm-pass
# times varied about three times as much from run to run.
CORES = 2
MIN_WARM_PASSES = 2
JVM_TIMEOUT_S = 160
# java.base packages Spark needs opened on JDK 17, as the program's build.sbt
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
END_TO_END = {"setup_s": "s", "pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
              "store_mb": "MB"}


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def heap():
    """The driver heap the repository's tier-1 command sizes: half of
    memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def die_with_parent():
    # PR_SET_PDEATHSIG: a child JVM never outlives this process
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)


def run_child(cmd, log_path, timeout, cwd=None, env=None):
    """Run a child to completion, its output to log_path; kill it on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, preexec_fn=die_with_parent)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout} s; log: {log_path}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def tail(path, n=15):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def preflight():
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise BenchError(f"program sources not found under {PROGRAM_SRC}: "
                         "run from the root of a graft checkout")
    if not os.path.isdir(SPARK_JARS):
        raise BenchError(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            raise BenchError(f"{tool} not on PATH")
    missing = [t for t in oracle.TABLES
               if not os.path.exists(os.path.join(BASE_FIXTURE, f"{t}.parquet"))]
    if missing:
        raise BenchError(f"fixture tables missing under {BASE_FIXTURE}: {', '.join(missing)}")


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "harness"), PROGRAM_SRC]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless this checkout already did."""
    stamp_path = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read().strip() == stamp:
                return
    log("compiling the program and the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(WORK, "build.log")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], log_path,
                   timeout=700, cwd=BENCH, env=env)
    if rc != 0 or not os.path.isdir(os.path.join(CLASSES, "graft", "perfbench")):
        raise BenchError(f"build failed (sbt exit {rc}); log {log_path}:\n{tail(log_path)}")
    log(f"compiled in {time.time() - t0:.0f} s")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    # a new build may carry new oracle SQL
    if os.path.exists(os.path.join(WORK, "oracle.json")):
        os.remove(os.path.join(WORK, "oracle.json"))


def jvm(args, run_dir):
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData"]
           + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{CLASSES}{os.pathsep}{os.path.join(SPARK_JARS, '*')}",
              "graft.perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=local)
    return cmd, env


def write_spec(path, props):
    with open(path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")


def fixture_dir(tag):
    return X10_FIXTURE if tag == "x10" else os.path.join(FIXTURES, tag)


def parquet_rows(path):
    import pyarrow.parquet as pq
    files = ([os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
             if os.path.isdir(path) else [path])
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def prepare():
    """Derive the x10 fixture and the oracle digests of every workload,
    once per checkout."""
    cache_path = os.path.join(WORK, "oracle.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    need = {}
    for w in WORKLOADS.values():
        for q in w["queries"]:
            if q not in cache.get(w["fixture"], {}):
                need.setdefault(w["fixture"], set()).add(q)
    counts_path = os.path.join(X10_FIXTURE, "rowcounts.json")
    scale = not os.path.exists(counts_path)
    if not need and not scale:
        return cache
    run_dir = os.path.join(WORK, "prepare")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    props = {"cores": CORES, "oracle.out": os.path.join(run_dir, "oracle_sql.jsonl"),
             "oracle.queries": ";".join(f"{fixture_dir(t)}={','.join(sorted(qs))}"
                                        for t, qs in sorted(need.items()))}
    if scale:
        shutil.rmtree(X10_FIXTURE, ignore_errors=True)
        props.update({"scaleup.src": BASE_FIXTURE, "scaleup.out": X10_FIXTURE,
                      "scaleup.factor": 10})
        log("deriving the x10 fixture with graft.tools.ScaleUp")
    spec = os.path.join(run_dir, "prepare.properties")
    write_spec(spec, props)
    cmd, env = jvm(["prepare", spec], run_dir)
    log_path = os.path.join(run_dir, "jvm.log")
    rc = run_child(cmd, log_path, timeout=600, env=env)
    if rc != 0:
        raise BenchError(f"prepare JVM failed (exit {rc}); log {log_path}:\n{tail(log_path)}")
    if scale:
        with open(counts_path) as f:
            got = json.load(f)
        for t, n in got.items():
            want = 10 * parquet_rows(os.path.join(BASE_FIXTURE, f"{t}.parquet"))
            if n != want:
                raise BenchError(f"x10 fixture: {t} has {n} rows, expected {want}")
        log(f"x10 fixture rows: {got}")
    with open(props["oracle.out"]) as f:
        sqls = [json.loads(l) for l in f]
    tag_of = {fixture_dir(t): t for t in need}
    cons = {}
    for s in sqls:
        tag = tag_of[s["fixture"]]
        if s["sql"] is None:
            raise BenchError(f"{s['query']} has no oracle in SparkEntry.oracleSqlFor")
        con = cons.get(tag) or cons.setdefault(tag, oracle.connect(s["fixture"], run_dir))
        t0 = time.time()
        try:
            cache.setdefault(tag, {})[s["query"]] = oracle.oracle_digest(con, s["sql"])
        except Exception as e:
            raise BenchError(f"oracle for {tag}/{s['query']} failed: {e}")
        log(f"oracle {tag}/{s['query']}: {time.time() - t0:.1f} s")
    with open(cache_path, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    return cache


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def run_workload(name, seed, seconds, trace, digests):
    w = WORKLOADS[name]
    queries = list(w["queries"])
    random.Random(seed).shuffle(queries)
    run_dir = os.path.join(WORK, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record_path = os.path.join(run_dir, "record.jsonl")
    check_dir = os.path.join(run_dir, "check")
    spec = os.path.join(run_dir, "run.properties")
    write_spec(spec, {"fixture": fixture_dir(w["fixture"]), "queries": ",".join(queries),
                      "seconds": seconds,
                      # a traced run needs an untraced and a traced warm
                      # pass after the first, which also writes the outputs
                      "min_warm_passes": MIN_WARM_PASSES + trace,
                      "trace": trace, "check_dir": check_dir, "record": record_path,
                      "cores": CORES})
    cmd, env = jvm([spec], run_dir)
    load = loadavg()
    log(f"{name}: seed {seed}, order {','.join(q.split('_')[0] for q in queries)}; "
        f"nproc {os.cpu_count()}, loadavg {load}")
    log_path = os.path.join(run_dir, "jvm.log")
    t_spawn = time.time()
    rc = run_child(cmd, log_path, timeout=JVM_TIMEOUT_S, env=env)
    t_exit = time.time()
    if rc != 0 or not os.path.exists(record_path):
        raise BenchError(f"harness JVM failed (exit {rc}); log {log_path}:\n{tail(log_path)}")
    with open(record_path) as f:
        lines = [json.loads(l) for l in f if l.strip()]
    rec = spans.parse_record(lines)
    if "end" not in rec:
        raise BenchError(f"harness record {record_path} is incomplete")

    # output check: any error in any pass, then the oracle digests
    failures = {}
    for q in rec["query"] + rec["check"]:
        if q["error"] and q["name"] not in failures:
            failures[q["name"]] = f"error in {q.get('pass', 'check')}: {q['error']}"
    for q in queries:
        if q in failures:
            continue
        try:
            diff = oracle.compare(oracle.engine_digest(os.path.join(check_dir, q)),
                                  digests[w["fixture"]][q])
        except Exception as e:  # an unreadable output is a failed query
            diff = f"output unreadable: {e}"
        if diff:
            failures[q] = f"mismatch: {diff}"
    t_checked = time.time()
    for q, why in failures.items():
        log(f"FAILED {name}/{q}: {why}")

    def pass_s(p):
        return p["timed_us"] / 1e6
    cold = next(p for p in rec["pass"] if p["pass"] == "cold")
    warm = [p for p in rec["pass"] if p["pass"].startswith("warm")
            and not p["pass"].endswith(".traced")]
    # best of the warm passes, as graft.Bench keeps each query's best run
    per_query = {q: min((r["t2_us"] - r["t0_us"]) / 1e6 for r in rec["query"]
                        if r["name"] == q and r["pass"] in {p["pass"] for p in warm})
                 for q in queries}
    cold_q = {r["name"]: (r["t2_us"] - r["t0_us"]) / 1e6 for r in rec["query"]
              if r["pass"] == "cold"}
    summary = {"workload": name, "seed": seed, "trace": trace, "nproc": os.cpu_count(),
               "loadavg_1m": load, "loadavg_1m_after": loadavg(), "order": queries,
               "cold_query_s": cold_q, "warm_query_s": per_query,
               "warm_passes": len(warm), "store_builds": rec["store_builds"]["seconds"],
               "failures": failures,
               "phases_s": {"jvm_main": rec["setup"]["main_us"] / 1e6 - t_spawn,
                            "session": rec["setup"]["session_us"] / 1e6 - t_spawn,
                            "jvm_exit": t_exit - t_spawn, "oracle_check": t_checked - t_exit}}
    metrics = {
        "setup_s": rec["setup"]["end_us"] / 1e6 - t_spawn,
        "pass_s": pass_s(cold),
        "warm_pass_s": min(pass_s(p) for p in warm),
        "query_p50_s": statistics.median(per_query.values()),
        "store_mb": rec["store_bytes"]["bytes"] / 1e6,
    }
    summary["end_to_end"] = metrics
    units = END_TO_END
    if trace:
        run_id = f"{name}-{seed}-{int(t_spawn * 1e6)}"
        metrics, sp = spans.layer_metrics(rec, run_id, MODULE, CORES)
        units = spans.per_layer_units()
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in sp:
                f.write(json.dumps({k: v for k, v in s.items() if k != "job"}) + "\n")
        summary["per_layer"] = metrics
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for d in ("tmp", "local", "check"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    return {"correct": not failures, "attempted": len(queries), "failed": len(failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    try:
        preflight()
        os.makedirs(WORK, exist_ok=True)
        build()
        digests = prepare()
        result = run_workload(a.workload, a.seed, a.seconds, a.trace, digests)
    except BenchError as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
