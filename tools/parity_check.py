"""Old-vs-new builder parity: run registry queries from two source trees
and require IDENTICAL collected results (schema + rows, bit-exact
through Arrow) at one or more scale factors.

Each tree runs in its own subprocess with that tree first on
``PYTHONPATH``, for the driver and for its Python workers, so functions
shipped to workers (``mapInPandas``, UDFs, ``applyInPandasWithState``)
unpickle against the tree that built them. The subprocesses write every
result as an Arrow IPC file; this process compares the two sets.

Usage:
    python tools/parity_check.py --old <old_tree> --sf <sf_dir> [--sf ...] <query> [...]

``<old_tree>`` is a checkout of the previous code, e.g. made with
``git archive <rev> | tar -x -C <old_tree>``; the new tree is the
checkout this script lives in.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile

NEW_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# run inside each tree's subprocess: argv = out_dir, n_sf, sf dirs, names
_DUMP = """
import sys
import pyarrow as pa

from spot_anomalies_flink_workshop_resources_spark.plans.harness import build_queries
from spot_anomalies_flink_workshop_resources_spark.session import build_session

out, n = sys.argv[1], int(sys.argv[2])
sf_dirs, names = sys.argv[3 : 3 + n], sys.argv[3 + n :]
spark = build_session("parity-check")
spark.sparkContext.setLogLevel("ERROR")
queries = build_queries()
for i, sf_dir in enumerate(sf_dirs):
    for name in names:
        table = queries[name](spark, sf_dir).toArrow()
        with pa.OSFile(f"{out}/{name}.{i}.arrow", "wb") as f:
            with pa.ipc.new_file(f, table.schema) as w:
                w.write_table(table)
spark.stop()
"""


def _dump(tree: str, out: str, sf_dirs: list[str], names: list[str]) -> None:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (tree, env.get("PYTHONPATH")) if p
    )
    subprocess.run(
        [sys.executable, "-c", _DUMP, out, str(len(sf_dirs)), *sf_dirs, *names],
        cwd=tree, env=env, check=True,
    )


def _rows(table) -> list[tuple]:
    # repr round-trips every float exactly (and tells -0.0 and NaN apart),
    # so equal row lists mean bit-identical values
    cols = [table.column(c).to_pylist() for c in table.column_names]
    return sorted(tuple(repr(v) for v in row) for row in zip(*cols))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--old", required=True, help="checkout of the previous code")
    ap.add_argument("--sf", action="append", required=True, help="scale-factor dir")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import pyarrow as pa

    with tempfile.TemporaryDirectory(prefix="parity_") as tmp:
        dumps = {}
        for side, tree in (("new", NEW_ROOT), ("old", os.path.abspath(args.old))):
            dumps[side] = os.path.join(tmp, side)
            os.makedirs(dumps[side])
            _dump(tree, dumps[side], args.sf, args.queries)

        bad = 0
        for i, sf_dir in enumerate(args.sf):
            for name in args.queries:
                tn, to = (
                    pa.ipc.open_file(f"{dumps[s]}/{name}.{i}.arrow").read_all()
                    for s in ("new", "old")
                )
                # nullability is NOT part of the driver's cross-engine
                # schema check (DuckDB fields carry their own flags);
                # compare names + types only
                sn = [(f.name, f.type) for f in tn.schema]
                so = [(f.name, f.type) for f in to.schema]
                if sn != so:
                    print(f"FAIL {name} @ {sf_dir}: schema\n  new={tn.schema}\n  old={to.schema}")
                    bad += 1
                    continue
                cn, co = _rows(tn), _rows(to)
                if cn != co:
                    print(f"FAIL {name} @ {sf_dir}: rows differ ({tn.num_rows} vs {to.num_rows})")
                    for j, (a, b) in enumerate(zip(cn, co)):
                        if a != b:
                            print(f"  first diff row {j}:\n    new={a}\n    old={b}")
                            break
                    bad += 1
                else:
                    print(f"OK   {name} @ {sf_dir}: {tn.num_rows} rows bit-exact")
    raise SystemExit(1 if bad else 0)


if __name__ == "__main__":
    main()
