#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_backlog, query_mix (see README.md).
The script builds the engine and the harness from source (sbt, cached
by a digest of the sources), generates the seeded inputs, runs the
harness JVM from a scratch directory under perfbench/.work, checks the
outputs, and prints one JSON line as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exit status: 0 when every check passed, 1 when a check failed, 2 when
the benchmark could not run (missing sources, build or JVM failure).
"""
import argparse
import fcntl
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import sensors  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ["ingest_backlog", "query_mix"]

# Workload parameters (README.md explains how each was chosen).
BACKLOG_FILES, BACKLOG_ROWS = 8, 5000
BACKLOG_DIRTY, BACKLOG_REORDERED = 0.10, 0.05
QUERY_SF = 0.01
JVM_HEAP = "1536m"
JVM_TIMEOUT_S = 165

END_TO_END = {
    "setup_s": "s", "work_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "op_success_rate": "ratio",
}
FAMILIES = ["core", "dedup", "vector", "text", "analytics"]
SPARK = ["planning_s", "stages", "tasks", "single_task_stages",
         "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
         "core_utilization"]


def _spark_unit(m):
    if m.endswith("_s"):
        return "s"
    if m.endswith("_bytes"):
        return "bytes"
    return "ratio" if m == "core_utilization" else "count"


def per_layer_metrics():
    """Every per-layer metric name with its unit, in report order."""
    m = {
        "ingest_rows_per_s": "rows/s",
        "query_mix_s": "s",
    }
    m.update({f"query_{f}_s": "s" for f in FAMILIES})
    m.update({
        "stream.batches": "count", "stream.trigger_s": "s",
        "stream.list_s": "s", "stream.wal_commit_s": "s",
        "stream.batch_s": "s", "stream.batch_driver_s": "s",
        "stream.batch_jobs": "count", "stream.backlog_files_max": "count",
        "ops.validate_jobs_s": "s", "ops.validate_jobs": "count",
        "sink.write_all_s": "s", "sink.write_all_jobs": "count",
        "sink.files_written": "count", "sink.bytes_written": "bytes",
        "sink.failed_files": "count", "routing.processed_files": "count",
        "routing.quarantined_files": "count",
        "routing.retried_files": "count",
    })
    for f in FAMILIES:
        m.update({f"entry.build_s.{f}": "s", f"entry.build_jobs.{f}": "count",
                  f"entry.action_s.{f}": "s",
                  f"entry.action_jobs.{f}": "count"})
    for s in SPARK:
        m[f"spark.{s}"] = _spark_unit(s)
        m.update({f"spark.{s}.{f}": _spark_unit(s) for f in FAMILIES})
    m.update({"host.calib_s": "s", "tracing_overhead": "ratio"})
    return m


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files():
    for base in [os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(ROOT, "build.sbt")


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath. Concurrent
    invocations serialize on a lock file."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    h = hashlib.sha256()
    for p in _source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest and all(
                os.path.exists(p) for p in b["classpath"].split(os.pathsep)):
            return b["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    for attempt in range(2):
        if attempt:
            # An interrupted incremental compile can leave stale state;
            # the retry starts from a clean target directory.
            shutil.rmtree(os.path.join(HERE, "target"), ignore_errors=True)
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        with open(log) as f:
            lines = f.read().splitlines()
        if r.returncode == 0 and lines:
            break
    else:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


# --------------------------------------------------------------- inputs

def query_tables(sf):
    """The query_mix tables at `sf`, generated once per generator
    version and reused (the data does not depend on --seed)."""
    d = os.path.join(WORK, "tables", f"{tables.source_digest()}-sf{sf}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        tables.write_tables(d, sf)
        open(os.path.join(d, "done"), "w").close()
    return d


def prepare(workload, seed, run_dir):
    """Generate the run's inputs; returns (JVM arguments, expectations)."""
    args, exp = {}, {}
    if workload == "query_mix":
        args["tables"] = query_tables(QUERY_SF)
        path = os.path.join(HERE, "expected_fingerprints.json")
        if os.path.exists(path):
            with open(path) as f:
                exp = json.load(f)
    else:
        corpus = os.path.join(run_dir, "corpus")
        exp["manifest"] = sensors.generate(
            corpus, seed, BACKLOG_FILES, BACKLOG_ROWS, BACKLOG_DIRTY,
            BACKLOG_REORDERED, prefix="b")
        args["corpus"] = corpus
        args["corpus_rows"] = BACKLOG_FILES * BACKLOG_ROWS
    return args, exp


# --------------------------------------------------------------- checks

def check_ingest(res, exp):
    """Routing and sink accounting of every drain against the
    generator's expectations; returns (attempted, failed, problems)."""
    want = sensors.expectations(exp["manifest"])
    names = [m["name"] for m in exp["manifest"]]
    attempted = failed = 0
    problems = []
    for d in res["drains"]:
        root = d["root"]
        attempted += len(names)

        def listing(sub):
            p = os.path.join(root, sub)
            return {f for f in os.listdir(p) if f.endswith(".csv")} \
                if os.path.isdir(p) else set()
        processed, quarantined = listing("processed"), listing("quarantine")
        log = os.path.join(root, "quarantine", "quarantine_log.txt")
        logged = []
        if os.path.exists(log):
            with open(log) as f:
                logged = [ln.split("File: ", 1)[1].split(", Reason:", 1)[0]
                          for ln in f if "File: " in ln]
        bad = set()
        for n in names:
            where = "processed" if n in want["processed"] else "quarantined"
            ok = (n in processed) == (where == "processed") and \
                (n in quarantined) == (where == "quarantined") and \
                d["statuses"].get(n) == where
            if where == "quarantined":
                ok = ok and logged.count(n) == 1
            if not ok:
                bad.add(n)
        if len(logged) != len(want["quarantined"]):
            problems.append(f"{len(logged)} quarantine log lines, "
                            f"expected {len(want['quarantined'])}")
        if listing("data"):
            problems.append(f"{len(listing('data'))} files left in data/")
        if d["raw_rows"] != want["raw_rows"] or \
                d["agg_rows"] != want["agg_rows"]:
            problems.append(
                f"sink rows raw={d['raw_rows']} agg={d['agg_rows']}, expected "
                f"raw={want['raw_rows']} agg={want['agg_rows']}")
            bad = set(names)
        if bad:
            problems.append(f"{len(bad)} files misrouted in {root}")
        failed += len(bad)
    return attempted, failed, problems


def check_queries(res, exp):
    fps = exp["fingerprints"]
    wrong = {q for q, fp in res["fingerprints"].items() if fps.get(q) != fp}
    wrong |= {e.split(":", 1)[0] for e in res["errors"]}
    failed = sum(res["executions"].get(q, 0) for q in wrong)
    problems = [f"{q}: fingerprint {res['fingerprints'].get(q)} != "
                f"{fps.get(q)}" for q in sorted(wrong)] + res["errors"]
    return res["attempted"], failed, problems


# -------------------------------------------------------------- metrics

def end_to_end(res, attempted, failed):
    units = [u for u in res["units"] if not u["traced"]]
    if "execs" in res:
        # query_mix: the sum over queries of each one's median wall, so
        # one slow execution moves only its own query's share.
        walls = {}
        for e in res["execs"]:
            if not e["traced"]:
                walls.setdefault(e["query"], []).append(e["s"])
        work = sum(statistics.median(v) for v in walls.values())
    else:
        work = statistics.median(u["wall_s"] for u in units)
    return {
        "setup_s": res["setup_s"],
        "work_s": work,
        "cpu_s": statistics.median(u["cpu_s"] for u in units),
        # Off-heap peak plus the median unit's largest heap occupancy
        # after a collection.
        "peak_rss_mb": res["offheap_peak_mb"] +
        statistics.median(u["heap_mb"] for u in units),
        "op_success_rate": 1.0 - failed / attempted,
    }


def per_layer(res):
    layers = dict(res.get("layers", {}))
    layers["host.calib_s"] = res["calib_s"]
    # Layers a workload bypasses report 0.
    return {k: layers.get(k, 0.0) for k in per_layer_metrics()}


# ------------------------------------------------------------------ run

def java_cmd(cp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed, pre-touched heap: resident memory does not wander with the
    # timing of G1's heap growth (a 25% run-to-run spread with a growable
    # heap), and peak_rss_mb takes the heap out of the peak and adds the
    # heap occupancy instead. The heap is six times the occupancy the
    # workloads reach, so heap growth shows as a regression long before
    # it ends in an OOM.
    return cmd + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
                  "-cp", cp, "perfbench.Main"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, run_dir, jvm_args):
    argv = java_cmd(cp) + [f"{k}={v}" for k, v in jvm_args.items()]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        argv.append(f"launch_ns={time.time_ns()}")
        # Few malloc arenas keep the off-heap footprint repeatable.
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(argv, cwd=run_dir, stdout=out, env=env,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            tail = f.read().splitlines()[-40:]
        os.makedirs(WORK, exist_ok=True)
        shutil.copy(log, os.path.join(WORK, "last-failure.log"))
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"harness JVM ended with {code}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # A terminated benchmark still stops its JVM (see run_jvm's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        jvm_args, exp = prepare(a.workload, a.seed, run_dir)
        jvm_args.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                        trace=a.trace, cores=cores(), work=run_dir)
        res = run_jvm(cp, run_dir, jvm_args)
        if a.workload == "query_mix":
            attempted, failed, problems = check_queries(res, exp)
        else:
            attempted, failed, problems = check_ingest(res, exp)
        if a.trace:
            trace_src = os.path.join(run_dir, "trace.jsonl")
            if os.path.exists(trace_src):
                shutil.copy(trace_src, os.path.join(
                    WORK, f"trace-{a.workload}-{a.seed}.jsonl"))
    finally:
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"),
                        os.path.join(WORK, "last-jvm.log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    correct = failed == 0 and not problems and attempted > 0
    metrics = per_layer(res) if a.trace else end_to_end(res, attempted, failed)
    units = per_layer_metrics() if a.trace else END_TO_END
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
