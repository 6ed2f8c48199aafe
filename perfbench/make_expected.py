#!/usr/bin/env python3
"""Regenerates perfbench/expected/digests.json, the full-result digests the
gold-reads and stream-commits workloads check every operation against.

Usage, from the root of a checkout that has DuckDB for Python:

    python3 perfbench/make_expected.py OUT_DIR

Runs every query of both workloads once over perfbench/data/sf0.01, writes
each full output as parquet into OUT_DIR, checks each against its DuckDB
oracle with tools/oracle_check.py, and keeps the digest of every query whose
output passed. The oracle run's pass and fail counts are stored alongside.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(out_dir):
    out_dir = os.path.abspath(out_dir)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--dump", out_dir], check=True)
    data = os.path.join(HERE, "data", "sf0.01")
    check = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
         data, out_dir], capture_output=True, text=True)
    print(check.stdout[-2000:])
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    failed = sorted(set(re.findall(r"^FAIL (\S+?):", check.stdout, re.M)))
    warned = sorted(set(re.findall(r"\[(?:WARNING|TYPE WARNING)\] (\S+?):",
                                   check.stdout, re.M)))
    with open(os.path.join(out_dir, "digests.json")) as fh:
        digests = json.load(fh)["digests"]
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    kept = {q: d for q, d in sorted(digests.items())
            if q in passed and q not in warned}
    out = {
        "data": "perfbench/data/sf0.01",
        "oracle_check": {
            "tool": "tools/oracle_check.py",
            "queries": len(digests),
            "with_oracle": len(oracle),
            "pass": len(passed),
            "fail": len(failed),
            "failed": failed,
            "not_bit_exact": warned,
            "no_oracle": sorted(set(digests) - set(oracle)),
        },
        "digests": kept,
    }
    with open(os.path.join(HERE, "expected", "digests.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"kept {len(kept)} of {len(digests)} digests")
    return 0 if len(kept) == len(digests) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
