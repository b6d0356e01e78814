#!/usr/bin/env python3
"""Reruns a workload's declared queries against their DuckDB oracles.

    python3 perfbench/oracle_check.py --workload text_dedup --seed 1 --size 800

The timed text_dedup runs check d8 and c13 by properties only: their
DuckDB oracles (a recursive closure for d8, the containment survey for
c13) take minutes at benchmark scale. This command generates a reduced
corpus from the same generator, executes the workload once, and compares
each result with `SparkEntry.oracleSql` in DuckDB. It works for every
workload whose results have oracles (text_dedup, posting_store,
events_timeseries). Exit code 0 means every result matched.
"""
import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402

CHECKS = {"text_dedup": check.check_text_dedup_oracles,
          "posting_store": check.CHECKERS["posting_store"],
          "events_timeseries": check.CHECKERS["events_timeseries"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=list(CHECKS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--size", type=int, default=800)
    a = ap.parse_args()

    root = os.path.abspath(build.default_out())
    os.makedirs(root, exist_ok=True)
    classpath = build.build(root)
    data = run.generate(a.workload, a.seed, a.size, root, "oracle")
    work = os.path.join(root, "oracle-work")
    shutil.rmtree(work, ignore_errors=True)
    j = run.Jvm(classpath, work, ["outputs", "--workload", a.workload, "--data", data,
                                  "--work", work])
    j.wait()
    out = os.path.join(work, "check")
    problems = CHECKS[a.workload](data, out)
    for p in problems:
        print(f"FAIL {p}")
    print(f"{a.workload} seed={a.seed} size={a.size}: "
          f"{'PASS' if not problems else 'FAIL'}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
