"""Self-check: run every queries() entry and its DuckDB oracle, compare.

Mimics the driver's correctness gate: row count, column names, and
order-insensitive value comparison **through Arrow on both sides** —
`DataFrame.toArrow()` for Spark, `.arrow()` for DuckDB — so the cell
types are the ones the driver hashes. In particular DuckDB's HUGEINT
(integer SUM) materializes as decimal128(38,0) -> Decimal, which must
NOT silently equal Spark's bigint -> int: a non-float type mismatch is
a FAIL here exactly as it is a hash mismatch in the driver (round-1
lesson: five oracles shipped "green" locally under float coercion and
failed the driver).

Floats must match to ~1e-9 relative (the harness hash-compares, so the
engine aims for bit-equality via exact decimal aggregation — this
script reports max float deltas so drift is visible).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as _dt
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from spot_anomalies_flink_workshop_resources_spark.catalog import TABLES
from spot_anomalies_flink_workshop_resources_spark.session import build_session


def _norm_cell(v):
    # Spark's Arrow timestamps carry the session tz; DuckDB's are naive.
    # Both engines agree on the instant, so compare tz-normalized naive.
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v
    # The driver hashes through pandas, where a DuckDB DATE becomes a
    # midnight datetime64 — date vs timestamp-at-midnight is NOT a
    # divergence there (round-1 evidence: events_daily_rollup used
    # Spark date_trunc (timestamp) vs an oracle DATE and hash-matched).
    if type(v) is _dt.date:
        return _dt.datetime(v.year, v.month, v.day)
    return v


def normalize(rows, cols):
    out = []
    for row in rows:
        d = dict(zip(cols, row))
        out.append(tuple(_norm_cell(d[c]) for c in sorted(cols)))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _rows(arrow_table):
    cols = arrow_table.column_names
    data = [arrow_table.column(c).to_pylist() for c in cols]
    return [tuple(col[i] for col in data) for i in range(arrow_table.num_rows)], cols


def compare(name, spark_df, con, sql):
    stab = spark_df.toArrow()
    # Driver-canonicalization guard (round-4 red row lesson): the driver
    # sorts result frames through pandas sort_values, which raises
    # "unhashable type: 'list'" on list/struct/map cells — a query can be
    # value-exact here yet red at the driver. Nested result columns on an
    # oracle-backed query are therefore a FAIL; reshape to long/scalar form.
    import pyarrow as pa

    for field in stab.schema:
        if pa.types.is_nested(field.type):
            return (
                f"FAIL {name}: nested result column {field.name!r} "
                f"({field.type}) — driver pandas canonicalization cannot "
                "sort it; register a long-form scalar shape instead"
            )
    otab = con.sql(sql).arrow()
    sraw, scols_orig = _rows(stab)
    oraw, ocols_orig = _rows(otab)
    scols, ocols = sorted(scols_orig), sorted(ocols_orig)
    if scols != ocols:
        return f"FAIL {name}: columns spark={scols} oracle={ocols}"
    if len(sraw) != len(oraw):
        return f"FAIL {name}: rows spark={len(sraw)} oracle={len(oraw)}"
    srows = normalize(sraw, scols_orig)
    orows = normalize(oraw, ocols_orig)
    max_delta = 0.0
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        for sv, ov in zip(sr, orr):
            if sv is None and ov is None:
                continue
            if sv is None or ov is None:
                return f"FAIL {name}: row {i} null mismatch {sv!r} vs {ov!r}"
            if isinstance(sv, float) and isinstance(ov, float):
                if math.isnan(sv) and math.isnan(ov):
                    continue
                delta = abs(sv - ov)
                rel = delta / max(abs(sv), abs(ov), 1e-30)
                max_delta = max(max_delta, rel)
                if sv != ov and rel > 1e-9:
                    return f"FAIL {name}: row {i} value {sv!r} vs {ov!r}"
            else:
                # Driver-strict: the Arrow cell type is part of the hash.
                if type(sv) is not type(ov):
                    return (
                        f"FAIL {name}: row {i} type mismatch "
                        f"{type(sv).__name__}({sv!r}) vs {type(ov).__name__}({ov!r})"
                    )
                if sv != ov and str(sv) != str(ov):
                    return f"FAIL {name}: row {i} value {sv!r} vs {ov!r}"
    exact = " exact" if max_delta == 0.0 else f" max_rel_delta={max_delta:.2e}"
    return f"OK   {name}: {len(srows)} rows{exact}"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    spark = build_session("check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        if name not in oracles:
            n = fn(spark, sf_dir).count()
            print(f"SKIP {name}: no oracle (rows={n})")
            continue
        try:
            msg = compare(name, fn(spark, sf_dir), con, oracles[name])
        except Exception as e:  # noqa: BLE001
            msg = f"FAIL {name}: exception {type(e).__name__}: {e}"
        print(msg)
        if msg.startswith("FAIL"):
            failures += 1
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
