#!/usr/bin/env python3
"""Test wall time per suite, from sbt's JUnit XML reports.

Reads every `TEST-*.xml` under a report directory (default
`target/test-reports`, written by `sbt test` / `sbt testOnly`) and prints
one row per suite, slowest first: wall seconds, share of the summed time,
test count and failures + errors. The last row sums them.

    python3 dev/suite_times.py             # target/test-reports
    python3 dev/suite_times.py some/dir
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def read_suites(report_dir):
    """(name, seconds, tests, failed) per report file, failed = failures + errors."""
    suites = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        # a report holds one <testsuite>, or a <testsuites> wrapper around several
        nodes = [root] if root.tag == "testsuite" else root.findall("testsuite")
        for s in nodes:
            suites.append((
                s.get("name", os.path.basename(path)),
                float(s.get("time", 0) or 0),
                int(s.get("tests", 0) or 0),
                int(s.get("failures", 0) or 0) + int(s.get("errors", 0) or 0),
            ))
    return suites


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    args = ap.parse_args(argv)

    suites = read_suites(args.report_dir)
    if not suites:
        print(f"no TEST-*.xml reports under {args.report_dir}", file=sys.stderr)
        return 1
    suites.sort(key=lambda s: -s[1])
    total_s = sum(s[1] for s in suites)
    total_tests = sum(s[2] for s in suites)
    total_failed = sum(s[3] for s in suites)
    total_name = f"all {len(suites)} suites"
    width = max(len(name) for name in [s[0] for s in suites] + [total_name])
    print(f"{'suite':<{width}}  {'wall s':>8}  {'share':>6}  {'tests':>5}  {'failed':>6}")
    for name, sec, tests, failed in suites:
        share = 100.0 * sec / total_s if total_s else 0.0
        print(f"{name:<{width}}  {sec:>8.1f}  {share:>5.1f}%  {tests:>5}  {failed:>6}")
    print(f"{total_name:<{width}}  {total_s:>8.1f}  {100.0:>5.1f}%  "
          f"{total_tests:>5}  {total_failed:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
