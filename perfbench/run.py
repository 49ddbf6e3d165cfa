#!/usr/bin/env python3
"""graft benchmark: one command for untimed, timed and traced runs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library
and the harness with sbt (cached in .bench_build/ until a source file
changes). Each run starts one JVM (perfbench.Main) with one client
thread against local[N], N = the number of processors, checks every
output against the DuckDB oracle, and prints the metrics as the last
line of standard output. With --trace 1 the run also executes one fixed
unit of work with listeners attached and prints the per-layer metrics
instead; spans and the full report go to .bench_build/reports/.

Workloads: jx_service and pipeline (see README.md).
The data directory is $SPARK_GRAFT_SF_DIR, by default ~/testdata/sf0.1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

from bench import jxgen, metrics, oracle  # noqa: E402

# The `pipeline` workload's queries, swept in a seed-permuted order:
# three batch ETL queries and two streaming drains.
PIPELINE = ["q224_tpch_q3", "q141_pagerank", "q54_sink_blocks",
            "q31_stream_tumbling", "q51_stream_dedup"]
WORKLOADS = ["jx_service", "pipeline"]
# the driver-side code paths keep speeding up over the first passes;
# two passes of warm-up leave a steadier JVM for the timed phase
WARMUP_REQUESTS = 2 * len(jxgen.TEMPLATES)
TRACE_REQUESTS = 6 * len(jxgen.TEMPLATES)
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a cached build is reused
    only for the exact sources it was made from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library and harness; return the harness classpath."""
    stamp = source_stamp()
    meta = os.path.join(BUILD, "build.json")
    if os.path.exists(meta):
        with open(meta) as f:
            m = json.load(f)
        if m.get("stamp") == stamp:
            return m["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(meta, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1],
                   "build_s": time.time() - t0}, f)
    return lines[-1]


def make_input(workload, seed, seconds, trace, data, local_dir):
    """Everything the JVM may use; generated from the seed alone."""
    spec = {"workload": workload, "data": data, "seconds": seconds,
            "trace": bool(trace), "cpus": os.cpu_count() or 1,
            "local_dir": local_dir,
            "all_queries": PIPELINE}
    if workload == "jx_service":
        warm = jxgen.requests(seed, "w", WARMUP_REQUESTS)
        seen = {r["json"] for r in warm}
        traced = jxgen.requests(seed, "r", TRACE_REQUESTS, exclude=seen)
        seen |= {r["json"] for r in traced}
        untraced = jxgen.requests(seed, "u", TRACE_REQUESTS, exclude=seen)
        seen |= {r["json"] for r in untraced}
        # more than a run can send: the loop stops on time, not count
        timed = jxgen.requests(seed, "t", max(400, int(seconds * 60)),
                               exclude=seen)
        spec.update(warmup=warm, requests=timed, trace_requests=traced,
                    untraced_requests=untraced,
                    pass_size=len(jxgen.TEMPLATES))
    else:
        qs = list(PIPELINE)
        random.Random(f"perfbench:{seed}:order").shuffle(qs)
        spec["queries"] = qs
    return spec


def run_jvm(classpath, spec, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "out")
    os.makedirs(tmp)
    spec_path = os.path.join(run_dir, "input.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = (["java"] + [x for p in JDK_OPENS for x in
                       ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main", spec_path, out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("the JVM timed out")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"the JVM failed (exit {rc})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/: run from a graft checkout")
    data = os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(data, "lineitem.parquet")):
        die(f"no data in {data}")

    classpath = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        spec = make_input(a.workload, a.seed, a.seconds, a.trace, data,
                          os.path.join(run_dir, "tmp", "spark"))
        result, out = run_jvm(classpath, spec, run_dir)
        con = oracle.connect(data)
        cache = os.path.join(BUILD, "oracle_cache",
                             hashlib.sha256(data.encode()).hexdigest()[:16])
        failures = metrics.check(con, spec, result, out, cache)
        report = metrics.report(spec, result, failures, a.trace)
        spans = report.pop("spans", [])
        rep_dir = os.path.join(BUILD, "reports",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.rmtree(rep_dir, ignore_errors=True)
        os.makedirs(rep_dir)
        shutil.copy(os.path.join(out, "result.json"), rep_dir)
        with open(os.path.join(rep_dir, "report.json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        if a.trace:
            with open(os.path.join(rep_dir, "spans.jsonl"), "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, why in failures:
        print(f"FAIL {name}: {why}")
    print(json.dumps({"health": report["health"],
                      "failed_frac": report["failed_frac"],
                      "info": report["info"]}))
    print(json.dumps(report["line"]))


if __name__ == "__main__":
    main()
