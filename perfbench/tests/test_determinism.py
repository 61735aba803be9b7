#!/usr/bin/env python3
"""Determinism of the benchmark's inputs and of its count metrics.

    python3 perfbench/tests/test_determinism.py            # every workload
    python3 perfbench/tests/test_determinism.py trickle_dml

For each workload, two traced runs with one seed must give the same op
sequence (op class, input fingerprint, rows) and the same count metrics
(jobs per op, files, state commits, manifest opens), so a change may
claim a count difference; a run with another seed must give a different
op sequence. Metadata bytes per commit repeat only to within a few bytes
per commit: metadata files carry random file names and commit times,
which compress to slightly different sizes. Each run measures only the
fixed window of cycles (--seconds 1), about a minute per run.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["trickle_dml", "view_refresh", "training_read"]
SEED = 7

# per-layer metrics that count work rather than time it
COUNT_METRICS = [
    "exec.jobs_per_write", "exec.jobs_per_refresh", "exec.jobs_per_lookup",
    "plan.files_kept_ratio", "plan.manifests_pruned_ratio", "plan.manifest_opens",
    "plan.driver_path_share", "plan.live_files", "plan.live_manifests",
    "commit.snapshots_per_op", "commit.metadata_files_per_commit",
    "write.data_files_per_op", "dml.files_rewritten_per_op",
    "dml.rows_rewritten_per_row_changed", "dml.dv_share",
    "refresh.state_commits", "refresh.state_snapshots", "refresh.recomputed_groups",
    "ra.jobs_per_batch", "maint.autopacks", "trace.window_ops", "trace.window_jobs",
]
# metrics that repeat to within a relative tolerance
NEAR_METRICS = {"commit.metadata_bytes_per_commit": 0.01, "commit.metadata_json_bytes": 0.01}


def traced_run(workload, seed, keep):
    """(count metrics, op sequence) of one traced run; the span file is
    copied to `keep` because the next run of the seed overwrites it."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise AssertionError("%s seed %d failed:\n%s" % (workload, seed, p.stderr[-3000:]))
    report = json.loads([l for l in p.stdout.splitlines() if l.startswith("{")][-2])
    shutil.copy(report["info"]["spans_file"], keep)
    ops = []
    with open(keep) as fh:
        for line in fh:
            s = json.loads(line)
            if s["span"].startswith("op-"):
                ops.append((s["name"], s["arg"], s["rows"]))
    counts = {m: report["metrics"][m]["value"] for m in COUNT_METRICS + list(NEAR_METRICS)}
    return counts, ops


class Determinism(unittest.TestCase):
    pass


def make_test(workload):
    def test(self):
        tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            a_counts, a_ops = traced_run(workload, SEED, os.path.join(tmp, "a"))
            b_counts, b_ops = traced_run(workload, SEED, os.path.join(tmp, "b"))
            _, c_ops = traced_run(workload, SEED + 1, os.path.join(tmp, "c"))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertEqual(a_ops, b_ops, "same seed, different op sequence")
        self.assertEqual({m: a_counts[m] for m in COUNT_METRICS},
                         {m: b_counts[m] for m in COUNT_METRICS},
                         "same seed, different count metrics")
        for m, tol in NEAR_METRICS.items():
            self.assertLessEqual(abs(a_counts[m] - b_counts[m]), tol * max(abs(a_counts[m]), 1),
                                 "same seed, %s differs by more than %g" % (m, tol))
        self.assertNotEqual(a_ops, c_ops, "another seed gave the same op sequence")
    return test


for _w in WORKLOADS:
    setattr(Determinism, "test_" + _w, make_test(_w))


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    chosen = [a for a in sys.argv[1:] if a in WORKLOADS]
    argv = [sys.argv[0]] + ["Determinism.test_" + w for w in chosen]
    unittest.main(argv=argv, verbosity=2)
