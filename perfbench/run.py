#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload job_dense --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles graft and the benchmark
into .bench_build/perfbench/ (again whenever a source changes). The last line
of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}; the line
before it stamps the host (cores, heap, JDK, Spark, git HEAD). See README.md.
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

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("job_dense", "iter_sparse")
# set-up is sampled in this many extra JVMs plus the measuring one
SETUP_PROBES = 1
# every run must end within this many seconds (the first run may build first)
RUN_LIMIT_S = 175
# per-layer metrics taken from the untraced JVM of a traced run, with units
PLAIN_METRICS = {"superstep_edges_per_s": "edges/s", "pagerank_s": "s", "wcc_s": "s",
                 "lpa_s": "s", "triangles_s": "s", "ingest_s": "s", "resume_s": "s"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    """Cores this process may use, as `nproc` counts them."""
    return len(os.sched_getaffinity(0))


def heap_gib():
    """Half of MemTotal in GiB, clamped to 2..8 (the tier-1 test line's rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def git_head():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], env=env,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build():
    """Compile once per source tree; returns the class directory."""
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, base))):
            for name in sorted(files):
                if name.endswith(".scala"):
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as f:
        h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(classes):
        for old in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
        r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes], cwd=ROOT,
                           stdout=sys.stderr)
        if r.returncode != 0:
            sys.exit("perfbench: build failed")
    return classes


def java(classes, heap, main, args):
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(args[args.index("--work") + 1], "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        "-Xmx%dg" % heap, "-Xms%dg" % heap, "-XX:+ExplicitGCInvokesConcurrent",
        "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + jars, main] + args)


def stop(p):
    """Kill a JVM started by run_jvm, with its process group, and reap it."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def run_jvm(cmd, log, deadline):
    """Run one JVM, its stderr appended to `log`; returns its last JSON line."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(p)
            raise RuntimeError("timed out: " + " ".join(cmd[-12:]))
        except BaseException:
            stop(p)
            raise
    lines = [l for l in out.decode().splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        raise RuntimeError("exit %d: %s" % (p.returncode, " ".join(cmd[-12:])))
    return json.loads(lines[-1])


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    classes = build()
    heap, ncores = heap_gib(), cores()
    tag = "selftest" if a.selftest else "%s-%d-%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "work", "%s-%d" % (tag, os.getpid()))
    log = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    open(log, "w").close()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.time() + RUN_LIMIT_S
    base = ["--cores", str(ncores), "--work", work]

    def jvm(main, args, heap=heap):
        return run_jvm(java(classes, heap, main, base + args), log, deadline)

    def measure(trace):
        return jvm("graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(trace), "--trace-out", os.path.join(BUILD, "traces", tag + ".jsonl"),
            "--t0-ms", str(int(time.time() * 1000))])

    try:
        if a.selftest:
            r = jvm("graftbench.SelfTest", [], heap=2)
            print(json.dumps(r))
            return 0 if r.get("failed") == 0 else 1
        if a.trace:
            # an untraced JVM, then a traced one: the job_s difference is the
            # tracing overhead, and the PLAIN_METRICS come from the untraced one
            plain, r = measure(0), measure(1)
            runs = [plain, r]
            metrics = r["metrics"]
            for k, unit in PLAIN_METRICS.items():
                metrics[k] = {"value": plain["extra"].get(k, 0.0), "unit": unit}
            metrics["trace_overhead_s"] = {
                "value": r["extra"]["job_s"] - plain["extra"]["job_s"], "unit": "s"}
            setups = [x["setup_s"] for x in runs]
        else:
            setups = [jvm("graftbench.Main", ["--t0-ms", str(int(time.time() * 1000)),
                                              "--setup-only"])["setup_s"]
                      for _ in range(SETUP_PROBES)]
            r = measure(0)
            runs = [r]
            setups.append(r["setup_s"])
            metrics = r["metrics"]
            metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    except RuntimeError as e:
        sys.stderr.write("perfbench: %s\n%s" % (e, tail(log)))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"stamp": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": ncores,
        "heap_gib": heap, "jdk": r["jdk"], "spark": r["spark"], "git_head": git_head(),
        "iterations": [x["iterations"] for x in runs], "setup_samples_s": setups,
        "errors": [e for x in runs for e in x["errors"]], "log": os.path.relpath(log, ROOT)}}))
    print(json.dumps({"correct": all(x["correct"] for x in runs),
                      "attempted": sum(x["attempted"] for x in runs),
                      "failed": sum(x["failed"] for x in runs), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # a SIGTERM unwinds like Ctrl-C, so the running JVM is stopped and reaped
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    sys.exit(main())
