#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query: the check
for a behaviour-preserving refactor. Each query's parquet output is
canonicalized as the oracle check does (columns sorted by name, dtypes
normalized, rows sorted) and must be identical in both directories.
Exits non-zero when any query differs or exists on one side only.
Usage: verify_diff.py <dirA> <dirB>"""
import glob
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import canon  # noqa: E402


def load(qdir):
    files = sorted(glob.glob(f"{qdir}/*.parquet"))
    if not files:
        return None
    return canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))


def differs(a, b):
    """None when the two canonical frames are identical, else a reason."""
    if a is None or b is None:
        return "no output" + (" in A" if a is None else "") + (" in B" if b is None else "")
    if list(a.columns) != list(b.columns):
        return f"columns A={list(a.columns)} B={list(b.columns)}"
    if len(a) != len(b):
        return f"rows A={len(a)} B={len(b)}"
    if not a.equals(b):
        bad = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
        return f"values differ in {bad.sum()}/{len(a)} rows"
    return None


def main(dir_a, dir_b):
    names = sorted({os.path.basename(p) for d in (dir_a, dir_b)
                    for p in glob.glob(f"{d}/q*") if os.path.isdir(p)})
    n_diff = 0
    for name in names:
        reason = differs(load(f"{dir_a}/{name}"), load(f"{dir_b}/{name}"))
        if reason:
            n_diff += 1
            print(f"{name}: DIFF ({reason})")
        else:
            print(f"{name}: same")
    print(f"\nSAME={len(names) - n_diff} DIFF={n_diff}")
    return 1 if n_diff or not names else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
