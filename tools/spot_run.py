"""Scale spot-run: time named registry queries at one or more sf dirs.

Formalizes the SCALE.md spot-run protocol (VERDICT r6 #6 onward, ad-hoc
until round 9) with bench.py's warmup and pass loop: per sf dir, run
the named queries in turn via the noop sink (no driver collect cost)
for --passes passes (default bench.PASSES), keep the per-query MINIMUM
(host noise is one-sided), clear non-protected cached state between
queries (bench.py's order-independence rule), and print one JSON object
  {query: {sf_label: wall_sec, ...}, ...}
plus a ready-to-paste markdown table with the ratio of the LAST sf
column over the FIRST.

Usage:
  python tools/spot_run.py --sf LABEL=DIR [--sf LABEL=DIR ...] \
      [--passes 2] query [query ...]

Example (round-9 newcomers at sf0.1 vs sf1):
  python tools/spot_run.py --sf sf0.1=/root/testdata/sf0.1 \
      --sf sf1=.scale/sf1 dq_temporal_drift sql_hhi_trend
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from spot_anomalies_flink_workshop_resources_spark.plans import harness
from spot_anomalies_flink_workshop_resources_spark.session import build_session


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--sf",
        action="append",
        required=True,
        metavar="LABEL=DIR",
        help="scale point: label=parquet_dir (repeatable, ordered)",
    )
    p.add_argument("--passes", type=int, default=bench.PASSES)
    p.add_argument(
        "--warm-dir",
        default=None,
        help="warmup corpus (default: the sf0.001 corpus beside the first "
        "--sf dir, else that dir; ADVICE r9 — a hard-coded tiny corpus "
        "was silently skipped on hosts without it, letting the first "
        "timed query absorb one-time codegen/Arrow costs)",
    )
    p.add_argument("queries", nargs="+")
    a = p.parse_args()

    sfs: list[tuple[str, str]] = []
    for spec in a.sf:
        label, _, d = spec.partition("=")
        if not d or not os.path.isdir(d):
            p.error(f"--sf {spec!r}: directory missing")
        sfs.append((label, d))

    spark = build_session("spot-run")
    spark.sparkContext.setLogLevel("ERROR")
    queries = harness.build_queries()
    unknown = [q for q in a.queries if q not in queries]
    if unknown:
        p.error(f"unknown queries: {unknown}")

    warm = a.warm_dir or bench.warm_dir(sfs[0][1])
    if os.path.isdir(warm):
        bench.warm_up(spark, queries, warm)
    else:
        print(
            f"spot_run: WARNING warmup dir {warm!r} missing — first timed "
            "query will absorb one-time codegen/Arrow costs",
            file=sys.stderr,
        )

    chosen = {q: queries[q] for q in a.queries}
    results: dict[str, dict[str, float]] = {q: {} for q in a.queries}
    for label, d in sfs:
        best, _ = bench.timed_passes(spark, chosen, d, a.passes)
        for q in a.queries:
            results[q][label] = round(best[q], 2)
            print(f"  {q} @ {label}: {results[q][label]}s", file=sys.stderr)

    print(json.dumps(results, indent=1))
    first, last = sfs[0][0], sfs[-1][0]
    print(f"\n| query | {first} s | {last} s | ratio |")
    print("|---|---|---|---|")
    for q in a.queries:
        r0, r1 = results[q][first], results[q][last]
        ratio = r1 / r0 if r0 > 0 else float("nan")
        print(f"| {q} | {r0:.2f} | {r1:.2f} | {ratio:.1f}x |")
    spark.stop()


if __name__ == "__main__":
    main()
