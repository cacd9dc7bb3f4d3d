"""Iterative graph analytics over relational edges — PageRank on the
customer↔supplier trade graph (Page et al. 1999) and HITS on its
directed form (Kleinberg 1999), the second iterative dataflow family
next to the dedup connected-components solver.

Exactness design: ranks are integer micro-units end-to-end —
r₀ = 1e6, contribution = r div out_degree (integer floor division),
r' = 150000 + (85·Σcontrib) div 100 (damping 0.85 in exact percent
arithmetic) — so every iteration is a sum of integers, order-independent
at any parallelism, and the DuckDB oracle (the same ten iterations
unrolled as plain CTEs) matches hash-for-hash. The standard float
formulation would drift in the last ulps across partitionings; the
integer recurrence is the lm_score micro-nat trick applied to an
iterative fixpoint.

Scale shape: the edge list with degrees is computed once and persisted
for the call; each iteration shuffles only the node-sized rank table
into a sort-merge join whose edge side is one reused exchange, and
lazy localCheckpoints every few rounds (and on the final round)
truncate lineage (the dedup_clusters lesson). HITS has the same
shape, with one scalar max per half-iteration attached by broadcast
(one plan at every scale — hits()). The driver holds nothing — no
collect anywhere in the loop. Each operator unpersists its edge
relation before returning: the returned plan reads only checkpointed
relations, so no cached relation outlives the query and every call
runs the same jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import iter_checkpoint

PR_ITERS = 10
PR_DAMP_PCT = 85            # damping 0.85 as exact percent arithmetic
PR_R0 = 1_000_000           # initial rank, micro-units
PR_TELEPORT = 150_000       # (1 - 0.85) · 1e6


def trade_edges(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Distinct customer↔supplier edges from order lines, symmetric.
    Node ids are typed integers (customer = 2·custkey, supplier =
    2·suppkey + 1) so the two key spaces cannot collide."""
    e0 = (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .select(
            (F.col("o_custkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    # symmetrize by a per-row inline explode, NOT union(e0, e0.swap):
    # the union form evaluates the join+distinct subtree twice (two
    # full edge-build pipelines unless AQE happens to reuse the
    # exchange — measured ~2 s of the 5 s edge build at sf0.1)
    return e0.select(
        F.expr("inline(array(struct(s, d), struct(d AS s, s AS d)))")
    )


def _pr_round(ed: DataFrame, ranks: DataFrame) -> DataFrame:
    """One exact PageRank iteration over the degree-annotated edges."""
    # hint("merge") on the node-sized rank side (r15, guide §3.1):
    # without it the planner broadcasts the ranks each iteration — ten
    # sequential BroadcastExchange builds, each a driver round-trip
    # barrier. As a sort-merge join the edge side's exchange is ONE
    # reused shuffle (identical subtree over the persisted relation
    # every iteration → ReusedExchange) and each iteration only
    # shuffles the node-sized rank table; output byte-identical
    # (integer arithmetic untouched). This is also the only strategy
    # available at 100 TB node counts, where the rank table exceeds any
    # broadcast cap.
    return (
        ed.join(ranks.hint("merge"), ed["s"] == ranks["n"])
        .select("d", F.expr("r div deg").alias("c"))
        .groupBy("d")
        .agg(F.sum("c").alias("sc"))
        .select(
            F.col("d").alias("n"),
            (
                F.lit(PR_TELEPORT) + F.expr(f"({PR_DAMP_PCT} * sc) div 100")
            ).cast("long").alias("r"),
        )
    )


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """(n, r): integer micro-unit PageRank after ``iters`` exact
    iterations. Every node in a symmetric edge list has in- and
    out-degree ≥ 1, so there are no dangling nodes to redistribute.
    Measured 27 Spark jobs on every call at sf0.1 (bench session
    defaults), 36 at sf0.01 with 8 shuffle partitions."""
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # deg is node-sized — AQE broadcasts it, so the edge list is built
    # without an extra shuffle. No repartition(s): the rank join's edge
    # side is one reused exchange, so a pre-partitioning shuffle would
    # be pure cost.
    ed = edges.join(deg, "s").persist()
    ranks = deg.select(F.col("s").alias("n"), F.lit(PR_R0).cast("long").alias("r"))
    for i in range(iters):
        ranks = _pr_round(ed, ranks)
        # the final round is checkpointed too, so the returned plan
        # reads no persisted relation and ed can be released below
        if (i + 1) % 3 == 0 or i == iters - 1:
            ranks = iter_checkpoint(ranks, eager=False)
    ed.unpersist()
    return ranks


def trade_pagerank(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Registry face: rank every customer and supplier by trade-graph
    centrality. Output is node-sized (one row per connected entity)."""
    ranks = pagerank(trade_edges(lineitem, orders))
    return ranks.select(
        F.col("n").alias("node_id"),
        F.when(F.col("n") % 2 == 0, "customer").otherwise("supplier").alias("kind"),
        F.expr("n div 2").alias("entity_key"),
        F.col("r").alias("rank_units"),
    )


HITS_ITERS = 8
HITS_SCALE = 1_000_000


def trade_edges_directed(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Distinct DIRECTED customer→supplier edges (hub side = buyers,
    authority side = suppliers — the natural HITS orientation of a
    trade graph). Same typed node ids as trade_edges."""
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("h"),
            (F.col("l_suppkey") * 2 + 1).alias("a"),
        )
        .distinct()
    )


def _max_normalized(raw: DataFrame, key: str, name: str) -> DataFrame:
    """(n, name): each raw score scaled to micro-units of the table's
    max. The 1-row max is attached by a broadcast cross join — the
    scale-safe way to attach a global aggregate without a total
    exchange. Both the raw table (read twice: by the max and by the
    scaling) and the result are lazily checkpointed, so no later
    action re-derives the chain behind them."""
    raw = iter_checkpoint(raw, eager=False)
    mx = raw.agg(F.max("raw").alias("mx"))
    return iter_checkpoint(
        raw.crossJoin(F.broadcast(mx)).select(
            F.col(key).alias("n"),
            F.expr(f"(raw * {HITS_SCALE}) div mx").cast("long").alias(name),
        ),
        eager=False,
    )


def hits(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999, "Authoritative sources in a
    hyperlinked environment"): authority = Σ hub over in-edges, hub =
    Σ authority over out-edges, each renormalized per half-iteration.
    Kleinberg's L2 normalization is replaced by MAX-normalization to
    micro-units — max is an order-independent exact statistic (a float
    L2 norm would drift across partitionings), scaling is integer
    floor division, and the fixpoint DIRECTION (what HITS is for — the
    principal singular vectors) is normalization-invariant. Every
    iteration is integer sums + one exact max, so the DuckDB oracle
    (the same iterations unrolled as CTEs, like trade_pagerank's)
    matches hash-for-hash.

    One plan shape at every scale: the edge relation is persisted for
    the call; each half-iteration shuffles only the node-sized score
    table into ``raw = groupBy(edges ⋈ scores)`` and max-normalizes it
    (_max_normalized). No global window (its single-partition exchange
    would carry a node-sized table) and no eager checkpoint. Measured
    72 Spark jobs on every call at sf0.1 (bench session defaults) and
    at sf0.01 with 8 shuffle partitions."""
    ed = edges.persist()
    hubs = ed.select("h").distinct().select(
        F.col("h").alias("n"), F.lit(HITS_SCALE).cast("long").alias("hub")
    )
    auth = None
    for _ in range(iters):
        auth = _max_normalized(
            ed.join(hubs, ed["h"] == hubs["n"])
            .groupBy("a")
            .agg(F.sum("hub").alias("raw")),
            "a",
            "auth",
        )
        hubs = _max_normalized(
            ed.join(auth, ed["a"] == auth["n"])
            .groupBy("h")
            .agg(F.sum("auth").alias("raw")),
            "h",
            "hub",
        )
    scores = hubs.select(
        F.col("n").alias("node_id"), F.col("hub").alias("score_units")
    ).unionByName(
        auth.select(F.col("n").alias("node_id"), F.col("auth").alias("score_units"))
    )
    # safe: every table the returned plan reads is checkpointed
    ed.unpersist()
    return scores


def trade_hits(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Registry face: hub scores for customers, authority scores for
    suppliers, over the directed trade graph."""
    scores = hits(trade_edges_directed(lineitem, orders))
    return scores.select(
        "node_id",
        F.when(F.col("node_id") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("kind"),
        F.expr("node_id div 2").alias("entity_key"),
        "score_units",
    )
