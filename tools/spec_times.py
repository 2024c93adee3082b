#!/usr/bin/env python3
"""Spec times of a test run, read from sbt's JUnit XML reports.

Prints the sum of the specs' times against the tier-1 time cap, then the
ten slowest specs with their test counts and their slowest test case.
Usage: python3 tools/spec_times.py [reports_dir]   (default target/test-reports)
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

CAP_S = 2670  # the tier-1 command's timeout


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else 'target/test-reports'
    specs = []
    for f in sorted(glob.glob(os.path.join(d, '*.xml'))):
        suite = ET.parse(f).getroot()
        cases = [(float(c.get('time', 0)), c.get('name')) for c in suite.iter('testcase')]
        bad = sum(int(suite.get(k, 0)) for k in ('failures', 'errors'))
        specs.append((float(suite.get('time', 0)), suite.get('name'), len(cases), bad,
                      max(cases, default=(0.0, ''))))
    if not specs:
        sys.exit(f'no JUnit XML reports under {d}')
    total = sum(s[0] for s in specs)
    tests = sum(s[2] for s in specs)
    failed = sum(s[3] for s in specs)
    print(f'{len(specs)} specs, {tests} tests, {failed} failed: '
          f'{total:.0f} s of spec time against the {CAP_S} s cap ({100 * total / CAP_S:.0f}%)')
    for t, name, n, _, (ct, cname) in sorted(specs, reverse=True)[:10]:
        print(f'{t:8.1f} s  {name} ({n} tests; slowest {ct:.1f} s: {cname})')


if __name__ == '__main__':
    main()
