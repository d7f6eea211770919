"""Graph / iterative operators (beyond-reference coverage).

Iterative algorithms are the one shape a declarative plan can't
express in a single pass: each round's output feeds the next round's
scan.  The Spark pattern (SURVEY.md §2.11 policy + CLAUDE.md
performance rules) is a driver-side loop of DataFrame transformations
with ``localCheckpoint(eager=True)`` per round — truncating lineage so
round k does not replay rounds 1..k-1 (2^k plan growth otherwise; see
q_dedup_clusters for the same pattern on connected components).

The DuckDB oracle unrolls the fixed iteration count as chained CTEs —
same arithmetic, same join shape, bit-comparable after rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from processor_spark.caching import scoped_persist
from processor_spark.registry import register
from processor_spark.sources import load

_DAMP = 0.85
_ITERS = 3


def _pr_iter_sql(i: int) -> str:
    prev = f"it{i - 1}"
    return f"""
    it{i} AS (
      SELECT n.node,
             0.15 / (SELECT n FROM n_cnt)
               + {_DAMP} * coalesce(sum(p.pr * e.w / o.ow), 0.0) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN {prev} p ON p.node = e.src
      LEFT JOIN outw o ON o.src = e.src
      GROUP BY n.node
    )"""


@register(
    "q_pagerank",
    sql=f"""
    WITH edges AS (
      SELECT sn.n_name AS src, cn.n_name AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ), nodes AS (
      SELECT n_name AS node FROM nation
    ), n_cnt AS (
      SELECT count(*) AS n FROM nodes
    ), outw AS (
      SELECT src, CAST(sum(w) AS DOUBLE) AS ow FROM edges GROUP BY src
    ), it0 AS (
      SELECT node, 1.0 / (SELECT n FROM n_cnt) AS pr FROM nodes
    ),{",".join(_pr_iter_sql(i) for i in range(1, _ITERS + 1))}
    SELECT node, round(pr, 8) AS pagerank FROM it{_ITERS}
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({_ITERS} fixed iterations, damping 0.85) over the
    nation-level trade graph: an edge src→dst weighted by how many
    lineitems a supplier nation shipped into a customer nation.

    Scale shape: the edge list is built once from the fact join and
    persist()ed (it is scanned every iteration); each iteration is one
    broadcast-size join (node count ≪ edge count) + hash-agg, and the
    rank vector is localCheckpoint(eager=True)ed so lineage stays O(1)
    across rounds.  At 100 TB the edges (nation×nation here, user×item
    in general) shuffle once and stay partitioned by dst across all
    iterations — the iteration cost is bounded by the rank-vector agg,
    not the graph build.
    """
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))), F.col("c_nationkey") == F.col("ck"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .transform(scoped_persist)
    )
    nodes = n.select(F.col("n_name").alias("node")).transform(scoped_persist)
    n_count = nodes.count()
    outw = edges.groupBy("src").agg(F.sum("w").cast("double").alias("ow"))
    # contribution edges with normalized weight, reused every iteration
    contrib = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("share"))
        .transform(scoped_persist)
    )
    pr = nodes.select("node", F.lit(1.0 / n_count).alias("pr"))
    for _ in range(_ITERS):
        incoming = (
            contrib.join(pr, contrib.src == pr.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") * F.col("share")).alias("mass"))
        )
        pr = (
            nodes.join(incoming, "node", "left")
            .select(
                "node",
                (F.lit(0.15 / n_count) + _DAMP * F.coalesce(F.col("mass"), F.lit(0.0))).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select("node", F.round("pr", 8).alias("pagerank"))


@register(
    "q_triangle_count",
    sql="""
    WITH raw AS (
      SELECT sn.n_name AS a, cn.n_name AS b
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      WHERE sn.n_name <> cn.n_name
    ), edges AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the undirected nation trade graph — the
    canonical graph-analytics primitive (clustering coefficient,
    community detection all build on it).

    Edges are canonicalized u < v, so each triangle is counted exactly
    once via the ordered two-hop join u<v<w (e1: u-v, e2: v-w, e3:
    u-w).  At 100 TB the standard refinement is degree-ordering
    (orient each edge from lower- to higher-degree endpoint) so the
    join fan-out is bounded by arboricity, not max degree — the edge
    derivation here already collapses the fact table to the distinct
    node-pair list before any self-join.
    """
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    raw = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("a"))), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("b"))), F.col("c_nationkey") == F.col("ck"))
        .where(F.col("a") != F.col("b"))
    )
    edges = (
        raw.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .transform(scoped_persist)
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
    )
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


# Edge count at or below which connected_components solves locally on
# the driver instead of running the distributed star-contraction loop
# (r15): the loop costs 6-8 STAGES PER ROUND regardless of data size
# (two joins + two aggs + distinct + checkpoint + checksum), so at
# fixture scale it is pure round-trip overhead — q_semdedup_clusters
# measured 6.32 s isolated at sf0.1 with the pair stage itself under
# 1 s.  The local solver is numpy min-label propagation with pointer
# jumping (O(log n) sweeps of np.minimum.at over the edge arrays),
# equality-tested against a union-find reference and against the
# distributed loop: measured 0.52 s for a 1M-node PATH (the
# adversarial diameter case), ~4 s for 4M uniformly RANDOM edges (the
# slow-convergence shape), and 6.7-11.0 s for the REAL 64× SemDeDup
# edge set (5.75M edges, 128k vertices, near-dup cliques → 5 sweeps)
# vs 14.0-17.3 s for the distributed loop on the same input — local
# wins ~2× even there, so the window is set one octave past it.  One
# Arrow round trip (~16 B/edge down, 16 B/vertex up → 128 MB driver
# transient at the cap).  Past the cap the distributed O(log n)-round
# loop runs unchanged — the same bounded-driver-window pattern as
# similarity.ROUTED_DRIVER_MAX_NLIST.
CC_LOCAL_MAX_EDGES = 8_000_000


def _cc_local(e: DataFrame, stats: dict | None) -> DataFrame:
    """Driver-side exact CC over a deduped (u, v) edge frame that fits
    the CC_LOCAL_MAX_EDGES window: labels = component MINIMUM id —
    byte-identical to the distributed star-contraction output
    (pinned by test_connected_components_local_equals_distributed)."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    spark = e.sparkSession
    if not len(pdf):
        if stats is not None:
            stats.update({"rounds": 0, "converged": True, "impl": "local"})
        return spark.createDataFrame([], "doc_id bigint, cluster_id bigint")
    u = pdf["u"].to_numpy().astype(np.int64)
    v = pdf["v"].to_numpy().astype(np.int64)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu, iv = inv[: len(u)], inv[len(u) :]
    lab = np.arange(len(nodes), dtype=np.int64)
    rounds = 0
    while True:
        rounds += 1
        l2 = lab.copy()
        np.minimum.at(l2, iu, lab[iv])
        np.minimum.at(l2, iv, lab[iu])
        while True:  # pointer jumping to the sweep's fixpoint
            l3 = l2[l2]
            if (l3 == l2).all():
                break
            l2 = l3
        if (l2 == lab).all():
            break
        lab = l2
    if stats is not None:
        stats.update({"rounds": rounds, "converged": True, "impl": "local"})
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": nodes, "cluster_id": nodes[lab]}),
        "doc_id bigint, cluster_id bigint",
    )


def connected_components(
    edges: DataFrame,
    max_rounds: int = 12,
    stats: dict | None = None,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    O(log n)-round replacement for min-label propagation, whose round
    count is the component DIAMETER (a 100 TB dup-chain can be long).

    Input: undirected edges as any (src, dst) pairs.  Output: one row
    per vertex, ``(doc_id, cluster_id)`` with cluster_id = component
    minimum.

    Each round is two relational steps over the edge list:
    - large-star: every node u links its LARGER neighbors to
      m = min(N(u) ∪ {u}) — applied over the symmetrized adjacency;
    - small-star: with edges directed larger→smaller, every node u
      links its smaller neighbors (and itself) to the minimum.
    Both are groupBy(min) + equi-join — no windows, no global
    structures; edge count never grows beyond the input (plus roots),
    and the graph collapses to a star of each component's minimum in
    O(log n) alternations.  Per-round ``localCheckpoint(eager=True)``
    keeps lineage O(1) (CLAUDE.md iterative-loop rule); convergence is
    detected by an order-invariant edge-set checksum, so the loop costs
    one small agg action per round instead of a subtract/count.
    """
    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # size-adaptive local window (r15): counting checkpointed blocks is
    # one cheap action; below the cap the driver solves exactly and the
    # 6-8-stages-per-round loop never runs (see CC_LOCAL_MAX_EDGES)
    # cap <= 0 always runs the distributed loop — even on an empty edge
    # set, where count() <= 0 would otherwise pick the local solver
    cap = CC_LOCAL_MAX_EDGES if local_max_edges is None else local_max_edges
    if cap > 0 and e.count() <= cap:
        return _cc_local(e, stats)
    # NB: lazy on purpose — it reads the already-checkpointed initial
    # edge set, is only referenced in the final returned plan, and an
    # eager materialization here would cost one extra action
    nodes = e.select(F.col("u").alias("doc_id")).union(e.select("v")).distinct()

    def checksum(df):
        # order-invariant set digest; the hash is shifted to its high 32
        # bits before summing so the ANSI-mode long sum cannot overflow
        # below ~2^31 edges (sum(xxhash64) raises ARITHMETIC_OVERFLOW)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.shiftright(F.xxhash64("u", "v"), 32)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # no pre-loop checksum: the first round's digest can't equal None,
    # so the comparison degenerates correctly and we save one action
    prev = None
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        # --- large-star ---
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", "u").alias("m"))
        ls = (
            adj.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(e.join(mins, "u").select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star (edges now point larger→smaller) ---
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(ls.join(mins2, "u").select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        e = ss.localCheckpoint(eager=True)
        cur = checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    import logging

    logging.getLogger(__name__).info("connected_components converged in %d rounds", rounds)
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        # an unconverged edge set is not a star graph: a vertex could
        # emit conflicting / non-minimum labels — fail loudly instead of
        # returning silently-wrong clusters
        raise RuntimeError(
            f"connected_components: edge set did not stabilize within "
            f"{max_rounds} rounds — raise max_rounds (O(log n) rounds "
            f"suffice for n vertices, so this indicates a pathological "
            f"or adversarial graph)"
        )
    # star graph: non-roots point at their component minimum
    labels = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = nodes.join(labels.select("doc_id"), "doc_id", "left_anti")
    return labels.union(roots.select("doc_id", F.col("doc_id").alias("cluster_id")))


# ------------------------------------------------------------ BFS hops

_BFS_HOPS = 3  # frontier rounds (distances 0.._BFS_HOPS)
_BFS_SEED_NATION = 3  # seed set: suppliers of this nation


def _bfs_sql() -> str:
    """Unrolled-frontier twin: n_k = N(n_{k-1}) as chained CTEs, final
    distance = min level per node (wander-back paths collapse under
    the min, so the unrolled sets need no per-level EXCEPT)."""
    frontier_ctes = []
    unions = ["SELECT node, 0 AS d FROM n0"]
    for k in range(1, _BFS_HOPS + 1):
        frontier_ctes.append(
            f"""n{k} AS (
      SELECT DISTINCT e.v AS node FROM und e JOIN n{k - 1} f ON e.u = f.node
    )"""
        )
        unions.append(f"SELECT node, {k} AS d FROM n{k}")
    ctes = ",\n    ".join(frontier_ctes)
    lvl_union = " UNION ALL ".join(unions)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey * 2 AS s_node, o.o_custkey * 2 + 1 AS c_node
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), und AS (
      SELECT s_node AS u, c_node AS v FROM pairs
      UNION ALL
      SELECT c_node AS u, s_node AS v FROM pairs
    ), n0 AS (
      SELECT s_suppkey * 2 AS node FROM supplier
      WHERE s_nationkey = {_BFS_SEED_NATION}
    ),
    {ctes},
    lvls AS ({lvl_union})
    SELECT node, CAST(min(d) AS BIGINT) AS dist,
           CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_type
    FROM lvls GROUP BY node
    ORDER BY node
    """


@register("q_bfs_hops", sql=_bfs_sql())
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (<= 3 hops) over the bipartite
    supplier-customer trade graph, seeded at one nation's suppliers —
    the reachability primitive behind supply-chain blast-radius and
    influence queries.

    Frontier-at-a-time BFS: each round joins the previous frontier to
    the undirected edge list; the final distance is min(level) per
    node, so revisits collapse without per-round anti-joins (the
    oracle unrolls the identical algebra as chained CTEs).  Each
    frontier is localCheckpoint(eager=True)ed — round k never replays
    rounds 1..k-1 (the graph.py iteration rule).

    Scale shape: per round one shuffle join keyed on node — the
    standard Pregel-class BFS plan; edges are distinct (supplier,
    customer) pairs (the heavy lineitem stream collapses in a
    map-side-combinable distinct first).  Frontier size is bounded by
    the node set, never the edge multiplicity."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("s_node"),
            (F.col("o_custkey") * 2 + 1).alias("c_node"),
        )
        .distinct()
    )
    und = pairs.select(F.col("s_node").alias("u"), F.col("c_node").alias("v")).unionAll(
        pairs.select(F.col("c_node").alias("u"), F.col("s_node").alias("v"))
    )
    und_p = scoped_persist(und)
    frontier = (
        sup.where(F.col("s_nationkey") == _BFS_SEED_NATION)
        .select((F.col("s_suppkey") * 2).alias("node"))
        .localCheckpoint(eager=True)
    )
    lvls = frontier.select("node", F.lit(0).alias("d"))
    for k in range(1, _BFS_HOPS + 1):
        frontier = (
            und_p.join(frontier, und_p.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        lvls = lvls.unionAll(frontier.select("node", F.lit(k).alias("d")))
    return (
        lvls.groupBy("node")
        .agg(F.min("d").cast("long").alias("dist"))
        .select(
            "node",
            "dist",
            F.when(F.col("node") % 2 == 0, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
        )
        .orderBy("node")
    )


# ------------------------------------ label propagation (r11)

_LPA_ITERS = 3


def _lpa_iter_sql(i: int) -> str:
    prev = f"lab{i - 1}"
    return f"""
    lab{i} AS (
      SELECT p.node, COALESCE(b.lab, p.lab) AS lab
      FROM {prev} p
      LEFT JOIN (
        SELECT node, lab FROM (
          SELECT node, lab, tw,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY tw DESC, lab) AS rn
          FROM (
            SELECT u.node, q.lab, CAST(sum(u.w) AS BIGINT) AS tw
            FROM und u JOIN {prev} q ON q.node = u.nbr
            GROUP BY u.node, q.lab
          )
        ) WHERE rn = 1
      ) b ON b.node = p.node
    )"""


@register(
    "q_label_propagation",
    sql=f"""
    WITH raw AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), und AS (
      SELECT node, nbr, CAST(sum(w) AS BIGINT) AS w FROM (
        SELECT src AS node, dst AS nbr, w FROM raw WHERE src <> dst
        UNION ALL
        SELECT dst AS node, src AS nbr, w FROM raw WHERE src <> dst
      ) GROUP BY node, nbr
    ), lab0 AS (
      SELECT n_nationkey AS node, n_nationkey AS lab FROM nation
    ),{",".join(_lpa_iter_sql(i) for i in range(1, _LPA_ITERS + 1))}
    SELECT n.n_name AS node, CAST(l.lab AS BIGINT) AS community
    FROM lab{_LPA_ITERS} l JOIN nation n ON n.n_nationkey = l.node
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    (Raghavan et al. 2007) over the undirected nation trade graph —
    {_LPA_ITERS} fixed rounds, each node adopting the label with the
    largest total incident edge weight among its neighbors (tie →
    smallest label; isolated nodes keep their label).  Labels are
    nation keys and edge weights are lineitem counts, so every round
    is pure int64 — full hash oracle with zero float surface (vs
    q_pagerank, whose mass updates are rounded doubles).

    Scale shape: the edge list is built once from the fact join and
    persisted (scanned every round); each round is one join of the
    label vector (node-sized, broadcast at any scale) against the
    edge list + a (node, lab) hash-agg + a per-node argmax — the
    standard LPA plan, linear in edges per round.  The label vector
    is localCheckpoint(eager=True)ed so lineage stays O(1) across
    rounds (the q_dedup_clusters rule)."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    raw = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("src") != F.col("dst"))
    )
    und = (
        raw.select(F.col("src").alias("node"), F.col("dst").alias("nbr"), "w")
        .unionByName(
            raw.select(F.col("dst").alias("node"), F.col("src").alias("nbr"), "w")
        )
        .groupBy("node", "nbr")
        .agg(F.sum("w").cast("long").alias("w"))
        .transform(scoped_persist)
    )
    lab = n.select("n_nationkey").select(
        F.col("n_nationkey").alias("node"), F.col("n_nationkey").alias("lab")
    )
    from pyspark.sql import Window

    for _ in range(_LPA_ITERS):
        votes = (
            und.join(
                lab.select(F.col("node").alias("nbr"), F.col("lab").alias("nlab")),
                "nbr",
            )
            .groupBy("node", "nlab")
            .agg(F.sum("w").cast("long").alias("tw"))
        )
        wv = Window.partitionBy("node").orderBy(F.col("tw").desc(), F.col("nlab"))
        best = (
            votes.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") == 1)
            .select("node", F.col("nlab").alias("best_lab"))
        )
        lab = (
            lab.join(best, "node", "left")
            .select("node", F.coalesce("best_lab", "lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    return lab.join(
        F.broadcast(n), lab.node == n.n_nationkey
    ).select(F.col("n_name").alias("node"), F.col("lab").cast("long").alias("community"))
