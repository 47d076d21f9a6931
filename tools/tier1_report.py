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

With --against <parent reports dir> (the reports of a run on the parent
commit), it then lists every test that passed there and fails or errors
now (REGRESSED), and, separately, every parent test that is absent now
(ABSENT: removed or renamed; these do not change the exit status).

Exit status: 0 when every failure is environmental and nothing errored;
1 on any other failure or error, on any REGRESSED test, or when no report
is found. No test is skipped or filtered: every testcase in every report
is counted.

Usage: tier1_report.py [reports_dir] [--against parent_reports_dir]
       (reports_dir defaults to target/test-reports)"""
import argparse
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


def load(reports_dir):
    """(report count, {test name: (status, message)}); status is one of
    pass, env, fail, error, skip."""
    files = sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml")))
    cases = {}
    for f in files:
        for case in ET.parse(f).getroot().iter("testcase"):
            name = f"{case.get('classname')}::{case.get('name')}"
            failure, error = case.find("failure"), case.find("error")
            if error is not None:
                cases[name] = ("error", message(error))
            elif failure is not None:
                msg = message(failure)
                cases[name] = ("env" if msg.startswith(ENV_PREFIX) else "fail", msg)
            elif case.find("skipped") is not None:
                cases[name] = ("skip", "")
            else:
                cases[name] = ("pass", "")
    return len(files), cases


def main(reports_dir, against=None):
    n_files, cases = load(reports_dir)
    if not n_files:
        print(f"no test reports under {reports_dir}")
        return 1
    by = {k: [(n, m) for n, (s, m) in cases.items() if s == k]
          for k in ("pass", "env", "fail", "error", "skip")}
    env, failed, errored = by["env"], by["fail"], by["error"]
    print(f"reports={n_files} passed={len(by['pass'])} failed={len(env) + len(failed)} "
          f"(environmental={len(env)} program={len(failed)}) errored={len(errored)} "
          f"skipped={len(by['skip'])}")
    for kind, rows in (("ENV", env), ("FAIL", failed), ("ERROR", errored)):
        for name, msg in rows:
            print(f"{kind} {name}: {msg[:200]}")
    regressed = []
    if against is not None:
        n_parent, parent = load(against)
        if not n_parent:
            print(f"no test reports under {against}")
            return 1
        was_passing = sorted(n for n, (s, _) in parent.items() if s == "pass")
        regressed = [n for n in was_passing
                     if n in cases and cases[n][0] in ("env", "fail", "error")]
        absent = sorted(n for n in parent if n not in cases)
        print(f"against {against}: parent passed={len(was_passing)} "
              f"regressed={len(regressed)} absent={len(absent)}")
        for name in regressed:
            print(f"REGRESSED {name}: {cases[name][1][:200]}")
        for name in absent:
            print(f"ABSENT {name}")
    return 1 if failed or errored or regressed else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(usage=__doc__.rsplit("Usage: ", 1)[1])
    ap.add_argument("reports_dir", nargs="?", default="target/test-reports")
    ap.add_argument("--against", metavar="parent_reports_dir")
    args = ap.parse_args()
    sys.exit(main(args.reports_dir, args.against))
