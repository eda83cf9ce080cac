#!/usr/bin/env python3
"""The repository benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload market_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark (sbt, offline); later runs reuse that build while neither the
sources nor the compiled classes changed. Each run starts one JVM at
local[nproc] with a single client thread, which sets up its inputs from the seed,
warms up, measures whole passes of its workload for about --seconds
seconds and checks every op's output. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 they
are its per-layer ones, from a separate traced pass, and the per-layer
table is written to .bench_build/perfbench/trace/.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the JVM's share of the 180 s a run may take; the oracle compare and the
# report need the rest
DEADLINE_S = 160.0
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        if not os.path.isfile(f):
            fail(f"missing {os.path.relpath(f, ROOT)}: run from a repository checkout")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classes_digest(cp):
    """Hash of the compiled classes on the classpath. The program's classes
    live in the root build's target/, which other sbt commands in the same
    checkout overwrite; a build is reused only while they are still the
    ones it produced."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for dirpath, dirnames, filenames in os.walk(entry):
            dirnames.sort()
            for f in sorted(filenames):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, entry).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + benchmark unless the last build's sources and
    classes are both unchanged; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(cp_file) as g:
            cp = g.read().strip()
        with open(stamp_file) as f:
            if f.read() == stamp + " " + classes_digest(cp):
                return cp, stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=850)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}), see {os.path.relpath(log, ROOT)}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp + " " + classes_digest(cp))
    return cp, stamp


def run_jvm(cp, args, work, out_json, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    log4j = os.path.join(BUILD, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write(LOG4J)
    # a fixed-size heap with a fixed young generation and fixed survivor
    # spaces: the resident set then grows only with what the program keeps,
    # not with the collector's heap-sizing decisions, so peak RSS repeats
    # from run to run
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Dlog4j2.configurationFile={log4j}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_json]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("the run exceeded its time limit")
    if rc != 0 or not os.path.exists(out_json):
        fail(f"benchmark JVM exited with {rc}")
    with open(out_json) as f:
        return json.load(f)


def git_sha():
    """The commit under test, when the checkout is a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is time the host gave away."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["market_daily", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp, stamp = build()
    # the build may take long on a fresh checkout; the run gets its own budget
    deadline = time.monotonic() + DEADLINE_S - min(10.0, time.monotonic() - start)
    work = os.path.join(BUILD, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        steal0, total0 = cpu_times()
        res = run_jvm(cp, args, work, os.path.join(work, "result.json"), deadline)
        steal1, total1 = cpu_times()
        ops = res["ops"]
        if args.workload == "query_mix":
            import oracle
            bad = oracle.check(res["extras"])
            for o in ops:
                if o["name"] in bad:
                    o["problems"].append(bad[o["name"]])
        failed = [o for o in ops if o["problems"]]
        for o in failed[:20]:
            print(f"perfbench: FAILED op {o['name']}: {'; '.join(o['problems'])}",
                  file=sys.stderr)
        lat = [o["s"] for o in ops if not o["problems"]]
        if args.trace == 0:
            if not lat:
                fail("every op failed")
            values = {
                "setup_s": res["session_s"] + statistics.median(res["setup_reps_s"]) + res["warm_s"],
                "wall_s": statistics.median(res["passes_s"]),
                "op_p50_s": statistics.median(lat),
                "peak_rss_mb": res["peak_rss_mb"],
            }
            info = {"ops_timed": len(lat), "passes": len(res["passes_s"])}
            names = spec["end_to_end"]
            correct = not failed
        else:
            layers = dict(res["layers"])
            layers["fail_frac"] = len(failed) / max(1, len(ops))
            values = layers
            info = {}
            names = spec["per_layer"]
            table = os.path.join(work, "trace_table.txt")
            if args.workload == "query_mix" and os.path.exists(table):
                with open(table, "a") as f:
                    f.write("\nquery                              count_s    noop_s\n")
                    for name, q in sorted(res["extras"]["queries"].items()):
                        cn = q["count_vs_noop"] or {"count_s": 0.0, "noop_s": 0.0}
                        f.write(f"{name:34s} {cn['count_s']:8.3f} {cn['noop_s']:9.3f}\n")
            if os.path.exists(table):
                # passes run untraced, traced, untraced
                traced_pass = sorted({o["pass"] for o in ops})[1]
                with open(table, "a") as f:
                    f.write("\nop (traced pass)                       s  sql_actions  problems\n")
                    for o in ops:
                        if o["pass"] == traced_pass:
                            f.write(f"{o['name']:34s} {o['s']:8.3f} {o['sql_actions']:12d}  "
                                    f"{'; '.join(o['problems'])}\n")
                dest = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.txt")
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.copy(table, dest)
                with open(table) as f:
                    sys.stderr.write(f.read())
            correct = (not failed and layers.get("spark.events_dropped", 1) == 0
                       and layers.get("trace.unattributed_jobs", 1) == 0)
        info.update({"cpu_steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
                     "session_s": res["session_s"], "setup_reps_s": res["setup_reps_s"],
                     "warm_s": res["warm_s"], "passes_s": res["passes_s"],
                     "workload": args.workload, "seed": args.seed,
                     "cores": res["cores"], "heap_mb": res["heap_mb"],
                     "spark_version": res["spark_version"], "git_sha": git_sha(),
                     "source_sha256": stamp[:16]})
        print(json.dumps(info))
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in names}
        print(json.dumps({"correct": correct, "attempted": len(ops),
                          "failed": len(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    main()
