"""Synthesize an sf1-scale dataset from the driver's sf0.1 parquet for
SCALING SPOT-RUNS (VERDICT r6 #6) — timing ratios only, never
correctness (there is no sf1 oracle; the driver's generator is not
available, so this is 10x key-shifted replication with structure-
preserving perturbations).

Replication design (why each table scales the way it does):

- Keyed fact/dim tables (orders, lineitem, customer, supplier, part,
  events): 10 replicas with every entity key offset by
  ``replica * 10**9`` — join relationships stay consistent inside a
  replica and replicas are disjoint, so per-key group sizes and join
  fan-outs match the sf0.1 distribution (what matters for timing).
  Timestamps/values/names are left as-is: real TPC-H also reuses a
  fixed name/date vocabulary as SF grows, so duplicate p_names across
  replicas mirror reality (and keep the name-similarity blocking an
  honest quadratic-in-block test). region/nation stay fixed (dims
  don't grow with data).
- documents: doc_id offset; replica k > 0 applies a VOCABULARY
  TRANSLATION — every token gets a replica suffix (``word`` ->
  ``word7x``), staying inside the engine's [a-z0-9]+ token space.
  Translation preserves ALL within-replica similarity structure
  exactly (token positions, shingle sets, unigram bags — so jaccard /
  minhash / simhash near-dup graphs inside a replica equal the sf0.1
  graphs), while cross-replica token overlap is exactly ZERO: the
  corpus behaves like 10 independent sf0.1 corpora, the
  linear-scaling shape the spot-run is testing. (A first attempt used
  a positional word SHUFFLE instead; simhash is unigram-based and
  order-invariant, so replicas kept identical fingerprints and the
  near-dup graph grew 10-cliques — a generator artifact that showed
  up as a fake 50x scaling ratio.) Per-token frequency profiles are
  preserved; the vocabulary grows with the corpus, as real corpora's
  do.
- embeddings: vec_id offset; replica k cyclically ROTATES the vector
  components by k. Rotation preserves norms and within-replica
  pairwise geometry exactly (both sides rotate together) and
  decorrelates replicas, avoiding artificial 10-cliques in the
  embedding near-dup graph.

Usage: python tools/make_scale_data.py [out_dir] [n_replicas]
(defaults: .scale/sf1 under the repo root, 10)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spot_anomalies_flink_workshop_resources_spark.session import build_session

SRC = "/root/testdata/sf0.1"
KEY_OFF = 10**9


def _fan(df, n):
    return df.withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    ).withColumn("rep", F.col("rep").cast("long"))


def _off(col, n=1):
    return (F.col(col) + F.col("rep") * F.lit(KEY_OFF)).alias(col)


def main(out: str, n: int) -> None:
    spark = build_session()
    rd = lambda t: spark.read.parquet(f"{SRC}/{t}.parquet")
    wr = lambda df, t: df.coalesce(8).write.mode("overwrite").parquet(
        f"{out}/{t}.parquet"
    )

    for t in ("region", "nation"):  # fixed dims
        wr(rd(t), t)

    wr(
        _fan(rd("customer"), n).select(
            _off("c_custkey"), "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment",
        ),
        "customer",
    )
    wr(
        _fan(rd("supplier"), n).select(
            _off("s_suppkey"), "s_name", "s_nationkey", "s_acctbal"
        ),
        "supplier",
    )
    wr(
        _fan(rd("part"), n).select(
            _off("p_partkey"), "p_name", "p_brand", "p_type", "p_size",
            "p_retailprice",
        ),
        "part",
    )
    wr(
        _fan(rd("orders"), n).select(
            _off("o_orderkey"), _off("o_custkey"), "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ),
        "orders",
    )
    wr(
        _fan(rd("lineitem"), n).select(
            _off("l_orderkey"), _off("l_partkey"), _off("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ),
        "lineitem",
    )
    wr(
        _fan(rd("events"), n).select(
            _off("event_id"), "ts", _off("user_id"), "event_type", "value",
            "props",
        ),
        "events",
    )

    # embeddings: rotate components by replica index
    dim_probe = rd("embeddings").select(F.size("embedding")).first()[0]
    emb = _fan(rd("embeddings"), n).select(
        _off("vec_id"),
        F.when(F.col("rep") == 0, F.col("embedding"))
        .otherwise(
            F.concat(
                F.slice(
                    F.col("embedding"),
                    (F.col("rep") % dim_probe + 1).cast("int"),
                    F.lit(dim_probe),
                ),
                F.slice(
                    F.col("embedding"),
                    F.lit(1),
                    (F.col("rep") % dim_probe).cast("int"),
                ),
            )
        )
        .alias("embedding"),
        "label",
    )
    wr(emb, "embeddings")

    # documents: per-replica vocabulary translation (see module doc)
    def shuffle_docs(batches):
        for pdf in batches:
            out_txt = []
            for rep, txt in zip(pdf["rep"], pdf["text"]):
                if rep == 0 or txt is None:
                    out_txt.append(txt)
                    continue
                sfx = f"{int(rep)}x"
                out_txt.append(
                    " ".join(w + sfx if w else w for w in txt.split(" "))
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"] + pdf["rep"] * KEY_OFF,
                    "text": out_txt,
                    "lang": pdf["lang"],
                    "source": pdf["source"],
                    "n_chars": pdf["n_chars"],
                }
            )

    docs = _fan(rd("documents"), n).mapInPandas(
        shuffle_docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    wr(docs, "documents")

    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings documents"
    ).split():
        print(t, spark.read.parquet(f"{out}/{t}.parquet").count())


def parse_args(argv):
    """Argparse front-end.

    Round-7's bare ``sys.argv`` parsing treated ``--help`` as the output
    directory and silently wrote a 111 MB parquet dataset into a
    dash-prefixed path that ``git add -A`` then committed (ADVICE r7).
    argparse rejects unknown flags and we additionally refuse any output
    path whose basename starts with '-'.
    """
    import argparse

    p = argparse.ArgumentParser(
        description="Generate a scaled synthetic dataset (sf1-style) for SCALE.md spot-runs."
    )
    p.add_argument(
        "out",
        nargs="?",
        default=os.path.join(ROOT, ".scale", "sf1"),
        help="output directory (default: .scale/sf1 under the repo root, gitignored)",
    )
    p.add_argument(
        "mult",
        nargs="?",
        type=int,
        default=10,
        help="scale multiplier over sf0.1 (default: 10)",
    )
    args = p.parse_args(argv)
    base = os.path.basename(os.path.normpath(args.out))
    if base.startswith("-") or not base:
        p.error(f"refusing suspicious output dir {args.out!r} (dash-prefixed or empty)")
    return args


if __name__ == "__main__":
    _a = parse_args(sys.argv[1:])
    main(_a.out, _a.mult)
