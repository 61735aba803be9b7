#!/usr/bin/env python3
"""Lakehouse benchmark of the graft engine: one seeded, closed-loop
workload per run (see perfbench/README.md).

    python3 perfbench/run.py --workload trickle_dml --seed 1 --seconds 10 --trace 0

Builds the engine from source on first use (perfbench/build.py), runs
the workload in a fresh JVM on Spark local[n], and prints two lines on
stdout: the full report (every metric, host context, trace table), then
the result line with the metrics BENCHMARK.json names -- its
`end_to_end` metrics with --trace 0, its `per_layer` metrics with
--trace 1. Exits non-zero when a result check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("trickle_dml", "view_refresh", "training_read")
# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions defaults)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
HEAP = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def contract_metrics(trace):
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss4m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("workload run exceeded %d s" % RUN_TIMEOUT_S)
    if proc.returncode != 0:
        raise RuntimeError("workload JVM exited %d:\n%s" % (proc.returncode, err[-4000:]))
    lines = [l for l in out.splitlines() if l.startswith("REPORT ")]
    if not lines:
        raise RuntimeError("workload JVM printed no report:\n" + err[-4000:])
    return json.loads(lines[-1][len("REPORT "):])


def main(argv):
    a = parse_args(argv)
    try:
        wanted = contract_metrics(a.trace)
        classpath = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print("perfbench: cannot build: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD_ROOT, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    trace_dir = os.path.join(build.BUILD_ROOT, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--spans", os.path.join(trace_dir, "%s-%d.jsonl" % (a.workload, a.seed))]
    try:
        report = run_jvm(classpath, args, work)
    except RuntimeError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info, metrics = report["info"], report["metrics"]
    print(json.dumps(report, sort_keys=False))
    for m in info.get("mismatches", []):
        print("perfbench: MISMATCH %s" % m, file=sys.stderr)
    if info["host"]["overloaded"]:
        print("perfbench: load average exceeded the CPU count during this run", file=sys.stderr)
    bad = [m["name"] for m in wanted
           if metrics.get(m["name"], {}).get("unit") != m["unit"]]
    if bad:
        print("perfbench: metrics not measured with the unit BENCHMARK.json names: %s"
              % ", ".join(bad), file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bool(info["correct"]),
        "attempted": int(info["attempted"]),
        "failed": int(info["failed"]),
        "metrics": {m["name"]: metrics[m["name"]] for m in wanted},
    }))
    return 0 if info["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
