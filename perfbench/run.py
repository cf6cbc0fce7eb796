#!/usr/bin/env python3
"""graft keyspace benchmark: one command, three workloads.

    python3 perfbench/run.py --workload keyspace_read --seed 1 --seconds 6 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
main sources together with the benchmark (sbt, offline) into
perfbench/target and caches the classpath; later runs start the JVM
directly. Each run works in its own directory under perfbench/.work and
deletes it before exiting.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, the layer report is printed
above the result, and the spans are kept under perfbench/out.
Lines above the result give the run's environment and its metrics under
their workload names (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import layer_report  # noqa: E402

WORKLOADS = ("keyspace_read", "ingest_mixed", "corpus_ops")
E2E = ("setup_s", "pass_cpu_s", "op_cpu_ms")
JVM_TIMEOUT_S = 170
HEAP = "2g"
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the cached build; return the classpath."""
    fp = fingerprint()
    cache = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def git_sha():
    """HEAD of the checkout, or "unknown" when ROOT is not a git work tree's top."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return "unknown"
    return lines[1]


def cpu_times():
    """Aggregate jiffies from /proc/stat (None where it is unreadable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of all CPU time the hypervisor gave to other guests."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / sum(d), 2) if sum(d) else None


def layer_unit(name):
    if name.endswith("_per_cpu_s"):
        return "rows/s"
    if name.endswith("_per_row_returned"):
        return "rows/row"
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources beside perfbench/ (run from the root of a graft checkout)", 2)
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set", 2)

    cp = classpath()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
                "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(work, "stream"),
                "SPARK_GRAFT_STREAM_DATA": os.path.join(work, "stream")})
    for k in ("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_STREAM_SCRATCH"):
        os.makedirs(env[k], exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, out])
    load_before, cpu_before = os.getloadavg(), cpu_times()
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:  # also on SIGTERM: never leave the JVM running
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        load_after, cpu_after = os.getloadavg(), cpu_times()
        with open(log_path, errors="replace") as f:
            for line in f:
                if line.startswith("perfbench:"):
                    sys.stderr.write(line)
        if code != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            die(f"benchmark JVM failed ({code})", 4)
        with open(out) as f:
            res = json.load(f)
        spans = []
        if args.trace:
            spans = layer_report.read_spans(out + ".spans.jsonl")
            keep = os.path.join(HERE, "out")
            os.makedirs(keep, exist_ok=True)
            stem = os.path.join(keep, f"trace-{args.workload}-{args.seed}")
            shutil.copy(out, stem + ".json")
            shutil.copy(out + ".spans.jsonl", stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env_stamp = dict(res["env"])
    env_stamp.update({"git_sha": git_sha(), "source_sha256": fingerprint()[:16],
                      "load_before": list(load_before), "load_after": list(load_after),
                      "cpu_steal_pct": steal_pct(cpu_before, cpu_after),
                      "driver_heap": HEAP})
    print(json.dumps({"env": env_stamp}))
    if env_stamp["conf_changed"]:
        print(f"perfbench: session conf changed during {args.workload}: "
              f"{env_stamp['conf_changed']}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pass_times_s": res["pass_times_s"],
                      "pass_cpu_s": res["pass_cpu_s"], "pass_steal_pct": res["pass_steal_pct"],
                      "passes": res["passes"],
                      "samples": res["samples"], "session_start_s": res["session_start_s"],
                      "setup_rounds_s": res["setup_rounds_s"], "setup_steps_s": res["setup_steps_s"],
                      "named": res["named"], "errors": res["errors"]}))

    if args.trace:
        print(layer_report.report(res, spans))
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": layer_unit(k)}
                   for k in layer_report.PER_LAYER}
    else:
        metrics = {k: res["metrics"][k] for k in E2E}
    values_ok = all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
                    for m in metrics.values())
    print(json.dumps({"correct": res["failed"] == 0 and values_ok,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
