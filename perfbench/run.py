#!/usr/bin/env python3
"""Run one itdbspark benchmark workload and print its result as JSON.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload itdb_library --seed 1 --seconds 10 --trace 0

The first run builds the program and the harness with sbt (perfbench/harness
depends on the checkout's own build) and caches the classpath under
`.bench_build/`. Inputs are generated from the seed and cached there too.
Each run starts a fresh JVM and SparkSession on local[nproc], runs the
workload's setup five times, then its timed body for --seconds, checks the
outputs and prints one JSON line last: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("itdb_library", "curation_batch")
E2E = {"setup_s": "s", "run_s": "s", "op_p50_ms": "ms", "written_mb": "MB",
       "retained_heap_mb": "MB"}
# Per-layer metrics each workload produces; the rest read 0 on it.
COMMON_LAYERS = ("spark.planning_ms", "spark.jobs", "spark.driver_gap_ms", "spark.task_s",
                 "spark.shuffle_mb", "spark.spill_mb", "spark.input_mb", "spark.gc_s",
                 "spark.cached_mb", "spark.cached_blocks", "spark.cold_first_ms",
                 "trace.run_s", "trace.overhead_pct")
OWN_LAYERS = {
    "itdb_library": ("ingest.plist_load_s", "ingest.plist_tasks", "itdbops.index_page_ms",
                     "itdbops.playlist_page_ms", "emit.html_ms", "emit.m3u_ms"),
    "curation_batch": ("dedup.decontam_s", "dedup.exact_s", "dedup.neardup_s",
                       "text.quality_s", "text.cap_s", "emit.corpus_write_s", "text.pack_s",
                       "ingest.docs_scan_s", "curation.unattributed_pct"),
}
HEAP = "3g"
RUN_LIMIT_S = 170
# Spark on JDK 17 needs these outside spark-submit (the program's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    paths.append(os.path.join(HARNESS, "build.sbt"))
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, env=None, cwd=None, stdout=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"{os.path.basename(cmd[0])} timed out after {timeout:.0f} s") from None
    return p.returncode


def build():
    """The runtime classpath of program + harness, building when stale."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = os.path.join(BUILD, "sbt-export.log")
    with open(out, "w") as f:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export harness/Runtime/fullClasspath"],
                       timeout=850, env=env, cwd=HARNESS, stdout=f)
    with open(out) as f:
        lines = [x.strip() for x in f if x.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        raise RuntimeError(f"sbt build failed (exit {rc}); see {out}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, work):
    """The JVM command line up to the main class; its files stay in `work`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return [java, *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.callstack.depth=80", f"-Dderby.system.home={work}", "-cp", cp]


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no itdbspark sources here: run from the root of a checkout")
        return 2
    os.makedirs(BUILD, exist_ok=True)
    cp = build()  # the first run in a checkout may spend most of its time here
    started = time.time()
    inputs = gen.materialize(args.workload, args.seed, os.path.join(BUILD, "inputs"))

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    cmd = java_cmd(cp, work) + [
        "graft.perf.Main", "--workload", args.workload, "--inputs", inputs, "--work", work,
        "--repo", ROOT, "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--seed", str(args.seed), "--nproc", str(nproc), "--out", out]
    budget = RUN_LIMIT_S - (time.time() - started) - 10
    rc = run_child(cmd, timeout=max(30.0, budget), cwd=work, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        log(f"harness exited {rc} without a result")
        return 1
    with open(out) as f:
        res = json.load(f)
    attempted, failed = res["attempted"], res["failed"]

    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer"]
        owned = set(COMMON_LAYERS) | set(OWN_LAYERS[args.workload])
        # a layer the workload does not run through reads 0
        metrics = {m["name"]: {"value": res["layers"].get(m["name"],
                                                          None if m["name"] in owned else 0.0),
                               "unit": m["unit"]} for m in spec}
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}
    env = dict(res["env"], mem_total_mb=mem_total_mb(), workload=args.workload,
               seed=args.seed, properties=gen.PROPERTIES[args.workload],
               passes=res["detail"]["passes"],
               failures=res["failures"])
    shutil.rmtree(work, ignore_errors=True)
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        log(f"metrics without a value: {missing}")
        failed += 1
    print("# env " + json.dumps(env))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
