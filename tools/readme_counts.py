#!/usr/bin/env python3
"""Sync README.md's test-count line from the committed JUnit reports
(target/test-reports/TEST-*.xml, counting only suites still declared under
src/test/scala) AND its battery-size mentions from the
query registry in src/main/scala/graft/queries/ — both counts went stale
at round close when maintained by hand. Run after `sbt test`:

    python3 tools/readme_counts.py
"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def battery_size() -> int:
    """Count q()/qNoOracle() registrations — the same anchor catalog.py
    generates QUERIES.md from, so the two can never disagree."""
    names = set()
    for f in glob.glob(f"{ROOT}/src/main/scala/graft/queries/*.scala"):
        for m in re.finditer(
                r'val\s+\w+\s*=\s*(?:q|qNoOracle)\(\s*"([a-z0-9_]+)"',
                open(f).read()):
            names.add(m.group(1))
    return len(names)


def declared_suites() -> set:
    """Fully qualified names of the classes declared under src/test/scala:
    a report whose suite is not among them was left by a deleted suite."""
    names = set()
    for f in glob.glob(f"{ROOT}/src/test/scala/**/*.scala", recursive=True):
        src = open(f).read()
        pkg = re.search(r"^package\s+([\w.]+)", src, flags=re.M)
        prefix = pkg.group(1) + "." if pkg else ""
        for m in re.finditer(r"^\s*(?:final\s+|abstract\s+)*class\s+(\w+)",
                             src, flags=re.M):
            names.add(prefix + m.group(1))
    return names


def main() -> None:
    suites = declared_suites()
    reports = sorted(
        r for r in glob.glob(f"{ROOT}/target/test-reports/TEST-*.xml")
        if ET.parse(r).getroot().get("name") in suites)
    if not reports:
        sys.exit("no JUnit reports under target/test-reports — run `sbt test`")
    tests = failures = 0
    for r in reports:
        s = ET.parse(r).getroot()
        tests += int(s.get("tests", 0))
        failures += int(s.get("failures", 0)) + int(s.get("errors", 0))
    if failures:
        sys.exit(f"refusing to stamp a red suite: {failures} failures")
    path = f"{ROOT}/README.md"
    src = open(path).read()
    line = f"sbt test                                                       # {tests} tests, {len(reports)} suites"
    out, n = re.subn(r"^sbt test\s+# \d+ tests, \d+ suites$", line, src,
                     flags=re.M)
    if n != 1:
        sys.exit(f"expected exactly one test-count line in README.md, found {n}")
    q = battery_size()
    out, n1 = re.subn(r"# expect \d+/\d+", f"# expect {q}/{q}", out)
    out, n2 = re.subn(r"\b\d+-query battery", f"{q}-query battery", out)
    if n1 != 1 or n2 != 1:
        sys.exit(f"expected one 'expect N/N' and one 'N-query battery' "
                 f"mention in README.md, found {n1}/{n2}")
    if out != src:
        open(path, "w").write(out)
        print(f"README.md updated: {tests} tests, {len(reports)} suites, "
              f"{q}-query battery")
    else:
        print(f"README.md already current: {tests} tests, {len(reports)} "
              f"suites, {q}-query battery")


if __name__ == "__main__":
    main()
