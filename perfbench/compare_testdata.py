#!/usr/bin/env python3
"""Compare the `queries` workload on generated tables with the same mix on
the repository's TPC-H-style testdata (TESTDATA.md) at the same scale factor.

    python3 perfbench/compare_testdata.py --testdata DIR --sf 0.1 [--passes 3]

Run from the repository root. One Spark session, set up as a benchmark run
is, generates the tables at `--sf` with seed 0, then runs passes over the
query mix on both table sets, alternating, after one warm-up pass on each.
Prints, per query, the output rows on each table set and the query's share of
the pass time (median over the timed passes). This is a tool for checking
the generator; the benchmark itself never reads the testdata.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_pass(spark, data: str) -> tuple[dict, dict]:
    from gtfs_conflation_pipeline_spark.plans import queries as Q
    from perfbench.workloads import QUERY_MIX, digest

    rows, secs = {}, {}
    for name in QUERY_MIX:
        t0 = time.perf_counter()
        rows[name] = digest(Q.QUERIES[name](spark, data))[0]
        secs[name] = time.perf_counter() - t0
    return rows, secs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--testdata", required=True, help="testdata directory at the scale factor --sf")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench import tpch
    from perfbench.host import reap_children
    from perfbench.run import PR_SET_CHILD_SUBREAPER, fit_box, session_conf, shutdown_jvm

    # as in run.py: Spark's orphaned worker daemons re-parent here and are waited for
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(HERE, "_work", "compare")
    shutil.rmtree(work, ignore_errors=True)
    fit_box(work)
    gen = os.path.join(work, "tpch")
    tpch.generate(gen, args.sf, 0)
    sets = {"generated": gen, "testdata": os.path.abspath(args.testdata)}
    try:
        from gtfs_conflation_pipeline_spark.session import get_spark

        spark = get_spark("perfbench-compare", extra_conf=session_conf(work))
        rows, secs = {}, {k: [] for k in sets}
        for k, d in sets.items():
            rows[k], _ = one_pass(spark, d)  # warm-up
        for _ in range(args.passes):
            for k, d in sets.items():
                r, s = one_pass(spark, d)
                if r != rows[k]:
                    raise RuntimeError(f"{k}: output rows changed between passes")
                secs[k].append(s)
    finally:
        try:
            shutdown_jvm()
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)

    med = {k: {q: statistics.median(p[q] for p in v) for q in v[0]} for k, v in secs.items()}
    total = {k: sum(m.values()) for k, m in med.items()}
    print(f"sf {args.sf}, median of {args.passes} passes")
    print("| query | rows, generated | rows, testdata | share, generated | share, testdata |")
    print("| --- | ---: | ---: | ---: | ---: |")
    for q in med["generated"]:
        print(
            f"| `{q}` | {rows['generated'][q]:,} | {rows['testdata'][q]:,} "
            f"| {med['generated'][q] / total['generated']:.1%} | {med['testdata'][q] / total['testdata']:.1%} |"
        )
    print(f"| pass | | | {total['generated']:.2f} s | {total['testdata']:.2f} s |")


if __name__ == "__main__":
    main()
