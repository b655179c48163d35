#!/usr/bin/env python3
"""Per-suite and per-package test times from sbt's JUnit XML reports.

Sums the `time` of every `<testsuite>` in `DIR/TEST-*.xml` (sbt writes
them to `target/test-reports/`). The total wall time of a suite run moves
by minutes with host load; the per-suite split shows where time went.

    tools/suite_times.py target/test-reports
        one row per suite, then one per package, slowest first
    tools/suite_times.py PARENT_REPORTS CHANGE_REPORTS
        the same rows with parent, change and change - parent

A suite present on one side only shows "-" on the other. Standard library
only.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suite_times(report_dir):
    """{suite name: (seconds, tests, failed)} over TEST-*.xml in report_dir."""
    files = sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml")))
    if not files:
        sys.exit(f"suite_times: no TEST-*.xml under {report_dir}")
    out = {}
    for path in files:
        root = ET.parse(path).getroot()
        suites = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in suites:
            name = s.get("name", os.path.basename(path))
            secs, tests, failed = out.get(name, (0.0, 0, 0))
            out[name] = (secs + float(s.get("time", 0) or 0),
                         tests + int(s.get("tests", 0) or 0),
                         failed + int(s.get("failures", 0) or 0)
                         + int(s.get("errors", 0) or 0))
    return out


def by_package(times):
    pkgs = {}
    for name, (secs, tests, failed) in times.items():
        pkg = name.rsplit(".", 1)[0] if "." in name else "(default)"
        s, t, f = pkgs.get(pkg, (0.0, 0, 0))
        pkgs[pkg] = (s + secs, t + tests, f + failed)
    return pkgs


def fmt(x):
    return "-" if x is None else f"{x:9.1f}"


def table_one(title, times):
    print(f"{title:<58} {'secs':>9} {'tests':>6} {'failed':>6}")
    for name, (secs, tests, failed) in sorted(times.items(), key=lambda kv: -kv[1][0]):
        print(f"{name:<58} {secs:9.1f} {tests:6d} {failed:6d}")
    total = sum(v[0] for v in times.values())
    print(f"{'TOTAL':<58} {total:9.1f} {sum(v[1] for v in times.values()):6d} "
          f"{sum(v[2] for v in times.values()):6d}\n")


def table_two(title, a, b):
    print(f"{title:<58} {'parent':>9} {'change':>9} {'delta':>9}")
    names = set(a) | set(b)
    def key(n):
        return -max(a.get(n, (0.0,))[0], b.get(n, (0.0,))[0])
    for n in sorted(names, key=key):
        pa = a[n][0] if n in a else None
        ch = b[n][0] if n in b else None
        d = ch - pa if pa is not None and ch is not None else None
        print(f"{n:<58} {fmt(pa):>9} {fmt(ch):>9} {('-' if d is None else f'{d:+9.1f}'):>9}")
    for i, label in ((0, "TOTAL secs"), (1, "tests"), (2, "failed")):
        ta = sum(v[i] for v in a.values())
        tb = sum(v[i] for v in b.values())
        print(f"{label:<58} {ta:9.1f} {tb:9.1f} {tb - ta:+9.1f}")
    print()


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip())
    if len(argv) == 2:
        t = suite_times(argv[1])
        table_one("suite", t)
        table_one("package", by_package(t))
    else:
        a, b = suite_times(argv[1]), suite_times(argv[2])
        table_two("suite", a, b)
        table_two("package", by_package(a), by_package(b))


if __name__ == "__main__":
    main(sys.argv)
