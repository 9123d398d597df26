#!/usr/bin/env python3
"""Benchmark of the Jaccard pipeline and the retrieval stack.

Run from the repository root:

    python3 perfbench/run.py --workload allpairs_dense --seed 1 --seconds 10 --trace 0

It builds the harness and the program's sources with sbt when they changed
(the build is cached under .bench_build/), runs one fresh JVM for the
workload, checks every op's output, and prints one JSON result as the last
line of stdout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

WORKLOADS = ("allpairs_dense", "allpairs_pruned", "retrieval_update_query")

END_TO_END = {
    "setup_s": "s", "first_op_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "items_per_s": "1/s", "heap_live_mb": "MB",
}

PER_LAYER = {
    "phase.build_s": "s", "phase.plan_s": "s", "phase.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.core_idle_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_records": "count", "spark.spill_bytes": "bytes",
    "plan.exchanges": "count", "plan.broadcast_joins": "count",
    "plan.sort_merge_joins": "count", "plan.object_hash_aggs": "count",
    "plan.scans": "count",
    "jaccard.parse_s": "s", "jaccard.tokenize_s": "s", "jaccard.prune_s": "s",
    "jaccard.pairs_s": "s", "jaccard.similarity_s": "s", "jaccard.format_s": "s",
    "jaccard.scan_passes": "ratio", "jaccard.postings": "count",
    "jaccard.pair_rows": "count", "jaccard.pair_yield": "ratio",
    "retrieval.index_build_s": "s", "retrieval.first_pass_s": "s",
    "retrieval.rm3_expand_s": "s", "retrieval.rescore_s": "s",
    "retrieval.candidates_per_query": "count", "retrieval.safe_frac": "ratio",
    "maint.batch_tf_s": "s", "maint.append_s": "s", "maint.delete_s": "s",
    "maint.rows_written_per_batch_row": "ratio",
    "trace.overhead_s": "s",
}

# The program sources the harness compiles, relative to the repository root.
PROGRAM_SOURCES = "src/main/scala"
BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"

# The JDK 17 module opens Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """A hash over every file the build reads."""
    h = hashlib.sha256()
    for top in (PROGRAM_SOURCES, os.path.join(BENCH_DIR, "src")):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, top)):
            dirnames.sort()
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(root, BENCH_DIR, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, deadline):
    """Compiles with sbt unless the cached build matches the sources;
    returns the runtime classpath."""
    build_dir = os.path.join(root, BUILD_DIR)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(build_dir, exist_ok=True)
    log("building the benchmark with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "writeClasspath"],
        cwd=os.path.join(root, BENCH_DIR), stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.time()))
    if proc.returncode != 0:
        raise RuntimeError("sbt build failed")
    log(f"built in {time.time() - t0:.1f} s")
    shutil.copy(os.path.join(root, BENCH_DIR, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read()


def jvm_heap():
    """The JVM heap of the repository's test runs: half the RAM in GB,
    clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(root, classpath, args, deadline):
    """Runs one benchmark JVM; returns its PB records and whether it ended
    cleanly."""
    work = os.path.join(root, BUILD_DIR, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xmx{jvm_heap()}", f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile=" + os.path.join(root, BENCH_DIR, "log4j2.properties"),
              "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores())])
    records = []
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        log("the benchmark JVM ran out of time and was stopped")
    for line in out.splitlines():
        if line.startswith("PB "):
            records.append(json.loads(line[3:]))
        else:
            log(line)
    clean = proc.returncode == 0 and any(r["kind"] == "done" for r in records)
    if not clean:
        log(f"the benchmark JVM ended abnormally (exit code {proc.returncode})")
    return records, clean


def tail_percentile(walls):
    """The highest percentile of `walls` with at least ten samples beyond
    it, as (value, percentile); the maximum when there are fewer than 11."""
    s = sorted(walls)
    if len(s) < 11:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PROGRAM_SOURCES, "graft")):
        log(f"no program sources under {PROGRAM_SOURCES}/: run from the repository root")
        return 2
    try:
        classpath = build(root, time.time() + 850)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"build failed: {e}")
        return 2
    # the JVM gets 170 s of its own, after a build that may have taken long
    records, clean = run_jvm(root, classpath, args, time.time() + 170)

    setup = next((r for r in records if r["kind"] == "setup"), None)
    ops = [r for r in records if r["kind"] == "op"]
    if setup is None or not ops:
        log("the run produced no op")
        return 1
    check = next((r for r in records if r["kind"] == "check"), None)
    if check:
        log(f"expected answer computed in {check['expected_s']:.2f} s")
    ok = check["ok"] if clean and check else [False] * len(ops)
    attempted = len(ops)
    failed = attempted - sum(1 for x in ok if x)

    if args.trace:
        trace = next((r for r in records if r["kind"] == "trace"), None)
        if trace is None:
            log("the traced run produced no trace")
            return 1
        got = trace["metrics"]
        metrics = {k: metric(float(got.get(k) or 0.0), u) for k, u in PER_LAYER.items()}
        log("per-tag totals of the last traced op: " + json.dumps(trace["tags"]))
        log(f"traced ops: {trace['ops']}")
    else:
        first = [o["wall"] for o in ops if not o["warm"]]
        warm = [o["wall"] for o in ops if o["warm"]]
        if not warm:
            log("the run ended before its first warm op")
            return 1
        tail, pct = tail_percentile(warm)
        values = {
            "setup_s": statistics.median(setup["walls"]),
            "first_op_s": first[0],
            "op_p50_s": statistics.median(warm),
            "op_tail_s": tail,
            "items_per_s": setup["items"] * len(warm) / sum(warm),
            "heap_live_mb": max(o["heap_mb"] for o in ops),
        }
        metrics = {k: metric(v, END_TO_END[k]) for k, v in values.items()}
        log(f"warm op walls: {[round(w, 3) for w in warm]}")
        log(f"warm ops: {len(warm)}; op_tail_s is their p{pct:.0f}; "
            f"set-ups: {setup['walls']} (boot {setup['boot']:.2f}); failed {failed} of {attempted}")
    print(json.dumps({"correct": clean and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if clean else 1


if __name__ == "__main__":
    sys.exit(main())
