#!/usr/bin/env python
"""Repo-wide physical-plan audit: compile EVERY registered query's plan
(no execution) and flag the scale red-flags the per-query pins check
individually — a cartesian product anywhere, or a row-at-a-time Python
UDF (BatchEvalPython; Arrow-batched pandas ops are fine).

Usage: python tools/audit_plans.py [sf_dir]
Prints one line per flagged query and a summary; exit 1 on any flag.
The sweeping twin of tests/test_scale_patterns.py's per-query pins —
run it when adding operators to catch a plan regression anywhere in the
registry, not just in the pinned set.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

FORBIDDEN = (
    # a cartesian is never the right plan here: every registered query
    # either broadcasts its small side or joins on keys
    "CartesianProduct",
    # row-at-a-time Python UDFs are the slow path; the repo's contract
    # is Arrow-batched only (ArrowEvalPython / mapInPandas / FlatMapGroups*)
    "BatchEvalPython",
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from spot_anomalies_flink_workshop_resources_spark.plans import harness
    from spot_anomalies_flink_workshop_resources_spark.session import (
        build_session,
    )

    spark = build_session("plan-audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    flagged: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    n = 0
    for name, fn in harness.build_queries().items():
        n += 1
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as ex:  # noqa: BLE001 - report, don't mask
            errors[name] = f"{type(ex).__name__}: {ex}"[:200]
            continue
        hits = [f for f in FORBIDDEN if f in plan]
        if hits:
            flagged[name] = hits
    for name, hits in sorted(flagged.items()):
        print(f"FLAG {name}: {', '.join(hits)}")
    for name, err in sorted(errors.items()):
        print(f"ERR  {name}: {err}")
    print(
        f"audited {n} queries: {len(flagged)} flagged, {len(errors)} errors"
    )
    spark.stop()
    return 1 if (flagged or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
