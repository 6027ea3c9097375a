#!/usr/bin/env python3
"""Compare the per-query outputs of two graft.Verify runs, row for row.

For each query directory (`<verifyDir>/<name>/*.parquet`) it takes SHA-256
over the query's rows: columns sorted by name, each row rendered as text,
rows sorted, so the hash does not depend on partitioning or row order.

Usage: hash_outputs.py <verifyDirA> <verifyDirB> [name ...]

Names may be shell patterns (`'q_mr_*'`); no names compares every query
that either run wrote. Prints one line per query (SAME, DIFF or MISSING)
and exits 1 when any selected query differs or is missing on one side.
"""
import fnmatch
import glob
import hashlib
import os
import sys

import pandas as pd


def queries(out_dir):
    return {os.path.basename(os.path.dirname(f))
            for f in glob.glob(f"{out_dir}/*/*.parquet")}


def digest(out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    df = df[sorted(df.columns)]
    rows = sorted(",".join(str(v) for v in row)
                  for row in df.itertuples(index=False))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    dir_a, dir_b, patterns = argv[0], argv[1], argv[2:]
    in_a, in_b = queries(dir_a), queries(dir_b)
    names = sorted(in_a | in_b)
    if patterns:
        names = [n for n in names if any(fnmatch.fnmatch(n, p) for p in patterns)]
        names += sorted(p for p in patterns
                        if not any(c in p for c in "*?[") and p not in names)
    bad = 0
    for name in names:
        if name not in in_a or name not in in_b:
            side = "A" if name not in in_a else "B"
            print(f"MISSING {name}: no output in {side}")
            bad += 1
            continue
        (n_a, h_a), (n_b, h_b) = digest(dir_a, name), digest(dir_b, name)
        if h_a == h_b:
            print(f"SAME {name} ({n_a} rows) {h_a[:16]}")
        else:
            print(f"DIFF {name}: A {n_a} rows {h_a[:16]}, B {n_b} rows {h_b[:16]}")
            bad += 1
    print(f"{len(names) - bad} same, {bad} differ or missing / {len(names)} queries")
    return 1 if bad or not names else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
