#!/usr/bin/env python3
"""Repeated runs of the benchmark, for baselines and A/B checks.

    python3 perfbench/runner.py --runs 10                # every workload, 10 seeds each
    python3 perfbench/runner.py --runs 10 --sets 2       # two sets, checked against each other
    python3 perfbench/runner.py --runs 5 --traced 2      # plus traced runs: layers + overhead
    python3 perfbench/runner.py --compare a.json b.json  # B against A, within the bounds

Round i runs every workload once with seed `--seed0 + i`, in forward
order on even rounds and reverse order on odd ones, so slow drift of the
host does not land on one workload. Per workload and metric it reports
the median and quartiles (Python's statistics.quantiles, n=4) and the
spread (q3 - q1) / median against the metric's bound in BENCHMARK.json.
With two sets, it checks that no metric's second median is worse than
the first by more than its bound. Results are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def one_run(workload, seed, seconds, trace):
    """(contract line, full report) of one run; raises on failure."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError("%s seed %d failed (exit %d):\n%s" % (
            workload, seed, p.returncode, p.stderr[-3000:]))
    result, report = json.loads(lines[-1]), json.loads(lines[-2])
    report["wall_s"] = time.time() - t0
    return result, report


def summarize(values):
    xs = sorted(values)
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs),
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def run_set(workloads, runs, seed0, seconds, trace, log):
    """{workload: {metric: [values]}} plus the full reports."""
    values = {w: {} for w in workloads}
    reports = {w: [] for w in workloads}
    for i in range(runs):
        order = workloads if i % 2 == 0 else list(reversed(workloads))
        for w in order:
            result, report = one_run(w, seed0 + i, seconds, trace)
            if not result["correct"]:
                raise RuntimeError("%s seed %d: wrong results %s" % (
                    w, seed0 + i, report["info"].get("mismatches")))
            for name, m in report["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])
            reports[w].append(report)
            host = report["info"]["host"]
            log("%-14s seed %-4d %5.1fs  load %.2f->%.2f%s  %s" % (
                w, seed0 + i, report["wall_s"], host["load_avg_before"], host["load_avg_after"],
                "  OVERLOADED" if host["overloaded"] else "",
                "  ".join("%s=%.4g" % (k, v["value"]) for k, v in result["metrics"].items())))
    return values, reports


def table(values, metrics, log):
    out = {}
    for w, per in values.items():
        out[w] = {}
        for m in metrics:
            if m["name"] not in per:
                continue
            s = summarize(per[m["name"]])
            out[w][m["name"]] = s
            bound = m.get("bound")
            flag = ""
            if bound is not None and m["name"] != "setup_s":
                flag = "  OVER BOUND" if s["spread"] > bound else (
                    "  over bound/3" if s["spread"] > bound / 3 else "")
            log("%-14s %-36s median %12.5g  q1 %12.5g  q3 %12.5g  spread %6.3f%s%s" % (
                w, m["name"], s["median"], s["q1"], s["q3"], s["spread"],
                "" if bound is None else " (bound %.2f)" % bound, flag))
    return out


def compare(a, b, metrics, log):
    """True when no metric's median in B is worse than in A by more than its bound."""
    ok = True
    for w in a:
        for m in metrics:
            if m["name"] not in a[w] or m["name"] not in b.get(w, {}):
                continue
            ma, mb = a[w][m["name"]]["median"], b[w][m["name"]]["median"]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            bad = worse > m["bound"]
            ok &= not bad
            log("%-14s %-20s A %12.5g  B %12.5g  worse by %+7.3f (bound %.2f)%s" % (
                w, m["name"], ma, mb, worse, m["bound"], "  FAIL" if bad else ""))
    return ok


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, choices=(1, 2), default=1)
    p.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec()["workloads"]))
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    p.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "runner.json"))
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = p.parse_args(argv)
    s = spec()
    log = lambda line: print(line, flush=True)  # noqa: E731

    if a.compare:
        sa, sb = (json.load(open(f))["sets"][0] for f in a.compare)
        return 0 if compare(sa, sb, s["end_to_end"], log) else 1

    workloads = a.workloads.split(",")
    out = {"spec": s, "sets": [], "traced": None}
    untraced_ops = {}
    for k in range(a.sets):
        log("== set %d: %d runs x %s" % (k + 1, a.runs, ", ".join(workloads)))
        values, _ = run_set(workloads, a.runs, a.seed0 + 100 * k, a.seconds, 0, log)
        out["sets"].append(table(values, s["end_to_end"], log))
        if k == 0:
            untraced_ops = {w: statistics.median(values[w]["ops_per_s"]) for w in workloads}
    ok = True
    if a.sets == 2:
        log("== set 2 against set 1")
        ok = compare(out["sets"][0], out["sets"][1], s["end_to_end"], log)
    if a.traced:
        log("== traced: %d runs x %s" % (a.traced, ", ".join(workloads)))
        values, reports = run_set(workloads, a.traced, a.seed0, a.seconds, 1, log)
        layers = table(values, s["per_layer"], log)
        overhead = {}
        for w in workloads:
            untraced = untraced_ops[w]
            traced = statistics.median(values[w]["trace.ops_per_s"])
            overhead[w] = 1 - traced / untraced
            log("%-14s tracing overhead: ops_per_s %.4g untraced vs %.4g traced (%+.1f%%)" % (
                w, untraced, traced, -100 * overhead[w]))
        out["traced"] = {"layers": layers, "overhead": overhead,
                         "by_class": {w: [r["info"]["trace_by_class"] for r in reports[w]]
                                      for w in workloads}}
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(out, fh, indent=1)
    log("wrote " + a.out)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
