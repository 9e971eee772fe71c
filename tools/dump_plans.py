"""Dump ``explain("formatted")`` for registry queries to files.

Plan compilation only, no execution. The text is written with the ids
that shift from run to run masked: expression ids (``#123`` ->
``#N``), ``plan_id=7`` -> ``plan_id=N`` and ``RDD[42]`` -> ``RDD[N]``.
Two trees' dumps then diff clean when their plans agree, e.g. for a
registry-wide plan-parity check of a refactor:

  python tools/dump_plans.py --out <dir_a> --suffix p --sf-dir <sf>
  (same from the other tree into <dir_b>) && diff -r <dir_a> <dir_b>

With no query named, every registry query is dumped in registry order.
Spark orders the ``Expand`` groups of a query with two distinct
aggregates (``dq_segment_balance``) by a hash of their expression ids,
so such a query can flip between whole-registry runs: dump it on its
own before calling a difference real.

Usage:
  python tools/dump_plans.py --out plans/r10 --suffix before \
      [--sf-dir <sf_dir>] [query ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spot_anomalies_flink_workshop_resources_spark.plans import harness
from spot_anomalies_flink_workshop_resources_spark.session import build_session

_RUN_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def mask_ids(text: str) -> str:
    """``text`` with expression ids, plan ids and RDD ids masked."""
    for pattern, repl in _RUN_IDS:
        text = pattern.sub(repl, text)
    return text


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = build_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    registry = harness.build_queries()
    os.makedirs(args.out, exist_ok=True)
    rc = 0
    for name in args.queries or list(registry):
        if name not in registry:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            rc = 1
            continue
        df = registry[name](spark, args.sf_dir)
        text = mask_ids(df._jdf.queryExecution().explainString(mode))
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text.splitlines())} lines)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
