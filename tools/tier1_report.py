#!/usr/bin/env python3
"""Summarize a Tier-1 `sbt testOnly *` run from sbt's JUnit XML reports.

Reads every target/test-reports/TEST-*.xml (or the reports under the
directory given as the only argument) and prints the passed, failed and
errored test counts, then one line per failure or error.

A failure is environmental only when its message (after the exception class
prefix sbt writes, e.g. "org.scalatest.exceptions.TestFailedException: ")
starts with "reference file not found:" -- the golden specs' way of saying
the reference implementation's data files are absent. Every other failure,
and every error, is a program failure.

Exit status: 0 when every failure is environmental and nothing errored;
1 on any other failure or error, or when no report is found. No test is
skipped or filtered: every testcase in every report is counted.

Usage: tier1_report.py [reports_dir]   (default: target/test-reports)"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET

ENV_PREFIX = "reference file not found:"
# "pkg.Outer$Inner: " -- the exception class sbt puts before the message
CLASS_PREFIX = re.compile(r"^[\w.$]+: ")


def message(node):
    text = node.get("message") or (node.text or "").strip().split("\n", 1)[0]
    return CLASS_PREFIX.sub("", text, count=1)


def main(reports_dir):
    files = sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml")))
    if not files:
        print(f"no test reports under {reports_dir}")
        return 1
    passed, env, failed, errored, skipped = 0, [], [], [], 0
    for f in files:
        for case in ET.parse(f).getroot().iter("testcase"):
            name = f"{case.get('classname')}::{case.get('name')}"
            failure, error = case.find("failure"), case.find("error")
            if error is not None:
                errored.append((name, message(error)))
            elif failure is not None:
                msg = message(failure)
                (env if msg.startswith(ENV_PREFIX) else failed).append((name, msg))
            elif case.find("skipped") is not None:
                skipped += 1
            else:
                passed += 1
    print(f"reports={len(files)} passed={passed} failed={len(env) + len(failed)} "
          f"(environmental={len(env)} program={len(failed)}) errored={len(errored)} "
          f"skipped={skipped}")
    for kind, rows in (("ENV", env), ("FAIL", failed), ("ERROR", errored)):
        for name, msg in rows:
            print(f"{kind} {name}: {msg[:200]}")
    return 1 if failed or errored else 0


if __name__ == "__main__":
    if len(sys.argv) > 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1] if len(sys.argv) == 2 else "target/test-reports"))
