"""Graph analytics: PageRank over the part-supplier bipartite graph.

The iterative-join workload class (PageRank / label propagation /
connected components all share it): per iteration, ranks join the edge
list on the source node, contributions aggregate by destination. The
repo already carries the O(log n) large-star/small-star connected
components (dedup.py q_dedup_clusters); this adds the fixed-iteration
power-method shape.

Determinism: the entire computation is INTEGER arithmetic. Ranks live
in 1e12 fixed-point units; each contribution is ``rank div out_degree``
(floor division — identical in Spark ``div`` and DuckDB ``//``), the
damping step is ``(85 * sum) div 100``. No float ever appears, so the
result is bit-exact on both engines and independent of partitioning /
merge order (integer sums commute). The oracle unrolls the same three
iterations as chained CTEs, certifying the distributed loop against a
direct relational evaluation.

Scale: the edge table is built once — both directions of each distinct
pair from one explode, the out-degree as a window count over src — and
cached. Round 1 needs no join: every node starts at the same rank, so
its contributions are ``RANK_UNIT div degree`` straight off the edges.
Each later iteration is one equi-join (ranks x edges on src) plus one
aggregation (by dst) — at 100 TB both sides hash-partition by node id,
and pre-partitioning edges ONCE by src lets every iteration reuse the
layout so only the (node, rank) table (narrow) reshuffles. Lineage
grows linearly with iterations: past ~10 rounds, checkpoint the rank
table (localCheckpoint) to truncate the plan, exactly as the dedup
cluster loop documents. Fixed 3 iterations here; production runs to a
rank-delta threshold via one extra aggregate per round.

Reference cite (mount empty, SURVEY §0): public flexcalc has no graph
surface; formulation is the standard damped power method (Page et al.
1999) in fixed-point arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flexcalc_spark.registry import register
from flexcalc_spark.tables import table

RANK_UNIT = 1_000_000_000_000  # 1e12 fixed-point rank units
TELEPORT = 150_000_000_000     # floor(0.15 * RANK_UNIT)
DAMP_NUM, DAMP_DEN = 85, 100   # 0.85 damping as exact integer ratio
ITERATIONS = 3

_EDGE_SQL = """
    edges AS (
        SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        UNION ALL
        SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)
"""


def _iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT e.dst AS node,
               {TELEPORT} + ({DAMP_NUM} * SUM(r.r // deg.d)) // {DAMP_DEN} AS r
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    )"""


@register(
    "q_pagerank",
    oracle=f"""
        WITH {_EDGE_SQL},
        r0 AS (SELECT DISTINCT src AS node, CAST({RANK_UNIT} AS BIGINT) AS r
               FROM edges),
        {_iter_sql('r0', 'r1')},
        {_iter_sql('r1', 'r2')},
        {_iter_sql('r2', 'r3')}
        SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank
        FROM r3
    """,
    family="graph",
    scale_notes=(
        "damped power method in 1e12 fixed-point INTEGER arithmetic "
        "(rank div degree contributions, (85*sum) div 100 damping) — "
        "bit-exact under any partitioning, no FP reorder hazard. The "
        "cached edge table carries its out-degree as a window count "
        "over src (one exchange, no degree join); round 1 is closed "
        "form (every node starts at RANK_UNIT, so contributions are "
        "RANK_UNIT div degree with no join), and rounds 2-3 are each "
        "one equi-join of the narrow (node, rank) table against the "
        "edges + one aggregation by dst; at 100 TB partition edges "
        "ONCE by src and only the rank table reshuffles per round; "
        "checkpoint ranks past ~10 rounds "
        "to truncate lineage. The oracle unrolls the identical 3 "
        "iterations as CTEs, certifying the loop relationally"
    ),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the undirected
    part-supplier bipartite graph from distinct lineitem pairs; ranks
    in exact 1e12 fixed-point units."""
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    part = F.col("l_partkey") * 2
    supp = F.col("l_suppkey") * 2 + 1
    # both directions of each distinct pair from ONE projection of the
    # distinct subtree (a unionAll of two projections planned it twice)
    edges = pairs.select(
        F.explode(F.array(
            F.struct(part.alias("src"), supp.alias("dst")),
            F.struct(supp.alias("src"), part.alias("dst")),
        )).alias("e")
    ).select("e.src", "e.dst")
    # One cached (src, dst, d) table, read by every round — the
    # "partition edges once" posture, and the CLAUDE.md cache rule (the
    # distinct + window subtree would otherwise recompute per round).
    # The out-degree is a window count over src, not a groupBy joined
    # back: one exchange by src, whose layout AQE coalesces into the
    # cache (canChangeCachedPlanOutputPartitioning=true, set in
    # tables.table — plain cache without the conf was the round-9 45 s
    # 200-partition hazard).
    ed = edges.select(
        "src", "dst",
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("d"),
    ).cache()

    def damped(contrib: DataFrame) -> DataFrame:
        return contrib.groupBy("dst").agg(
            (
                F.lit(TELEPORT)
                + F.expr(f"({DAMP_NUM} * sum(c)) div {DAMP_DEN}")
            ).alias("r")
        ).select(F.col("dst").alias("node"), "r")

    # Round 1 in closed form: r0 holds every src exactly once at rank
    # RANK_UNIT, so ed JOIN r0 ON src = node is ed itself and each
    # contribution is RANK_UNIT div d — no join, same integers.
    ranks = damped(ed.select("dst", F.expr(f"{RANK_UNIT} div d").alias("c")))
    for _ in range(ITERATIONS - 1):
        ranks = damped(
            ed.join(ranks, ed.src == ranks.node).select(
                F.col("dst"), F.expr("r div d").alias("c")
            )
        )
    return ranks.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("r").cast("bigint").alias("rank"),
    )


COOCCUR_MIN = 2  # co-occurrence support threshold for the part graph


@register(
    "q_triangle_count",
    oracle=f"""
        WITH pairs AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
            JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {COOCCUR_MIN}
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM pairs e1
            JOIN pairs e2 ON e2.u = e1.v
            JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
               CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges
        FROM tri
    """,
    family="graph",
    scale_notes=(
        "triangle counting on the part co-occurrence graph via the "
        "oriented-edge decomposition: edges stored once as u<v, wedges "
        "= pairs joined on the middle vertex, closed by a second equi "
        "join on the (u, w) edge — each triangle counted exactly once, "
        "O(wedges) work instead of O(n^3). At 100 TB the standard "
        "refinement orients edges by DEGREE (low->high) so wedge "
        "fan-out is bounded by the lighter endpoint — same two-join "
        "plan, different orientation key; the support threshold (>=2 "
        "shared orders) prunes the hairball before any join. The graph "
        "quality signal behind community detection and spam-cluster "
        "mining"
    ),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count triangles in the part co-occurrence graph (parts sharing
    >=2 orders), edges oriented u<v, wedge-close join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= COOCCUR_MIN)
        .select("u", "v")
        # core-count layout before cache (the q_market_basket lesson:
        # a cached 200-partition shuffle defeats AQE coalescing)
        .repartition(spark.sparkContext.defaultParallelism, "u")
        .cache()
    )
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = e1.join(e2, F.col("e2.u") == F.col("e1.v")).join(
        e3,
        (F.col("e3.u") == F.col("e1.u"))
        & (F.col("e3.v") == F.col("e2.v")),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .crossJoin(F.broadcast(n_edges))
        .select("n_triangles", F.col("n_edges").cast("bigint").alias("n_edges"))
    )


# ----------------------------------------------------- degree distribution
@register(
    "q_degree_dist",
    oracle=f"""
        WITH {_EDGE_SQL}
        SELECT CAST(d AS BIGINT) AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY d
    """,
    family="graph",
    scale_notes=(
        "degree histogram — the first thing anyone computes on a new "
        "graph (skew diagnosis BEFORE choosing join strategies: a "
        "power-law tail here is exactly what forces the salted-join / "
        "high-degree-vertex-mirroring decisions downstream): each "
        "endpoint's degree is a countDistinct(partner) straight off "
        "the raw fact scan, so the (part, supp) dedup happens as "
        "map-side partial aggregation BEFORE any shuffle — the "
        "round-6 plan materialized the distinct pair list, mirrored "
        "it, and re-shuffled 2|E| rows (the probe's 2.50x spot); now "
        "only node-sized degree tables union into the |degrees|-cell "
        "histogram. Completely shuffle-minimal at any scale"
    ),
)
def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part-supplier bipartite graph:
    (degree, n_nodes)."""
    li = table(spark, sf_dir, "lineitem")
    deg_p = li.groupBy(
        (F.col("l_partkey") * 2).alias("node")
    ).agg(F.countDistinct("l_suppkey").alias("d"))
    deg_s = li.groupBy(
        (F.col("l_suppkey") * 2 + 1).alias("node")
    ).agg(F.countDistinct("l_partkey").alias("d"))
    deg = deg_p.unionAll(deg_s)
    return deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).select(F.col("d").cast("bigint").alias("degree"), "n_nodes")


# --------------------------------------------------------------- k-core
KCORE_K = 3
KCORE_ROUNDS = 6


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part-supplier bipartite edge list (both directions),
    the same construction as q_pagerank's _EDGE_SQL."""
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    fwd = pairs.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    rev = pairs.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
    )
    return fwd.unionAll(rev)


def _kcore_oracle() -> str:
    ctes = [f"e0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f"""n{i} AS MATERIALIZED (
                SELECT src AS node FROM e{i-1}
                GROUP BY src HAVING COUNT(*) >= {KCORE_K}
            )"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
                SELECT e.src, e.dst FROM e{i-1} e
                JOIN n{i} a ON e.src = a.node
                JOIN n{i} b ON e.dst = b.node
            )"""
        )
    return (
        f"WITH {_EDGE_SQL}, "
        + ", ".join(ctes)
        + f"""
        SELECT CAST(src AS BIGINT) AS node,
               CAST(COUNT(*) AS BIGINT) AS deg
        FROM e{KCORE_ROUNDS} GROUP BY src
        """
    )


@register(
    "q_kcore",
    oracle=_kcore_oracle(),
    family="graph",
    scale_notes=(
        "bounded k-core peeling (k=3, 6 rounds): each round keeps "
        "nodes with current degree >= k and restricts edges to "
        "surviving endpoints — degree census + two semijoin-shaped "
        "hash joins per round, the standard distributed rendering "
        "(Quick/Montresor-style) of the sequential min-degree peel. "
        "The edge table shrinks monotonically, so round cost falls; "
        "6 rounds suffice here (fixture converges by round 3 — the "
        "production form loops until no node drops, same plan per "
        "round). Spark localCheckpoints each round's edge table: "
        "e_i feeds the census AND both joins of round i+1, so without "
        "LINEAGE TRUNCATION the logical plan re-expands ~3^rounds — "
        "cache() alone is not enough (the plan/explain text still "
        "nests and round 5's plan string alone OOMed the driver; "
        "measured this round) — the same blowup that forces "
        "MATERIALIZED CTEs on the oracle side. This is exactly why "
        "production iterative graph jobs checkpoint every few rounds. "
        "At 100 TB partition edges by src once; the node survivor "
        "sets broadcast"
    ),
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 3-core of the part-supplier graph after 6 peel
    rounds: surviving (node, deg).

    Each round's edge table goes through eager localCheckpoint —
    LINEAGE TRUNCATION, not just caching: e_i appears three times in
    round i+1's plan, so the logical plan (and its explain string,
    which AQE renders per query) grows ~3^rounds deep; cache() leaves
    that plan text intact and round 5's string alone OOMed the driver
    heap. localCheckpoint rebases each round on a materialized RDD, so
    every round's plan is one round deep — the engine-side analogue of
    the oracle's MATERIALIZED CTE chain."""
    # The peel loop runs under a core-count shuffle conf: each round's
    # localCheckpoint materializes the CURRENT shuffle layout verbatim,
    # and a vanilla session's 200 partitions would cost ~200 near-empty
    # tasks x 3 consumers x 6 rounds (measured 3.7s -> 2.7s; the
    # cache-layout lesson applies to checkpoints identically).
    from flexcalc_spark.tables import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark):
        # r14 audit: a pre-loop repartition(src) was tried and measured
        # NEUTRAL with an identical per-round plan shape (2 exchanges,
        # 2 BHJ either way) — the survivor joins are already AQE
        # broadcasts and the degree groupBy exchanges only the
        # map-side-reduced |nodes| aggregate, never the edge list, so
        # there is no per-round edge reshuffle to remove. Left alone.
        e = _edges(spark, sf_dir).localCheckpoint()
        for _ in range(KCORE_ROUNDS):
            nodes = (
                e.groupBy("src")
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") >= KCORE_K)
                .select(F.col("src").alias("node"))
            )
            e = (
                e.join(nodes.withColumnRenamed("node", "src"), "src")
                .join(
                    nodes.withColumnRenamed("node", "dst"),
                    "dst",
                )
                .select("src", "dst")
                .localCheckpoint()
            )
    return e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).select(F.col("src").cast("bigint").alias("node"), "deg")


# ------------------------------------------------------ label propagation
LP_ROUNDS = 4


def _label_prop_oracle() -> str:
    ctes = ["l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM edges)"]
    for k in range(1, LP_ROUNDS + 1):
        ctes.append(
            f"""c{k} AS MATERIALIZED (
                SELECT e.src AS node, l.lab,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM edges e JOIN l{k-1} l ON e.dst = l.node
                GROUP BY e.src, l.lab
            )"""
        )
        ctes.append(
            f"""l{k} AS MATERIALIZED (
                SELECT node, lab FROM (
                    SELECT node, lab, ROW_NUMBER() OVER (
                               PARTITION BY node
                               ORDER BY cnt DESC, lab) AS rk
                    FROM c{k}
                ) WHERE rk = 1
            )"""
        )
    return (
        f"WITH {_EDGE_SQL}, "
        + ", ".join(ctes)
        + f"""
        SELECT CAST(lab AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM l{LP_ROUNDS} GROUP BY lab
        """
    )


@register(
    "q_label_prop",
    oracle=_label_prop_oracle(),
    family="graph",
    scale_notes=(
        "synchronous label propagation (4 rounds, Raghavan-style "
        "majority vote with (count DESC, label) total-order ties — "
        "deterministic, unlike the randomized original): each round "
        "is one edges x labels equi join, a per-(node, label) count, "
        "and a WindowGroupLimit argmax — the narrow (node, label) "
        "table is the only thing that reshuffles per round, edges "
        "partition by dst once (checkpointed; consumed every round). "
        "Labels checkpoint per round EXCEPT the last (its checkpoint "
        "was a pure extra materialization — the closing groupBy is its "
        "only consumer). A fully lazy loop measured 0.84x fresh but "
        "stacks one broadcast build per round in a single plan and "
        "OOMed a loaded vanilla 1g session at sf0.1 (r15) — the "
        "checkpointed form is the shared-session-robust choice. "
        "The oracle unrolls identical rounds as MATERIALIZED CTEs. "
        "Community-size census output — the corpus-clustering signal "
        "used for domain balance in training mixes"
    ),
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round deterministic label propagation on the part-supplier
    graph; community size census (label, n_nodes)."""
    # The propagation loop runs under a core-count shuffle conf (the
    # checkpoint-layout rule — measured 2.3s -> 1.3s; see q_kcore).
    from flexcalc_spark.tables import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark):
        edges = _edges(spark, sf_dir).localCheckpoint()
        labels = edges.select("src").distinct().selectExpr(
            "src AS node", "src AS lab"
        ).localCheckpoint()
        for rnd in range(LP_ROUNDS):
            cnt = (
                edges.join(
                    labels.withColumnRenamed("node", "dst"), "dst"
                )
                .groupBy("src", "lab")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            )
            rk = F.row_number().over(
                Window.partitionBy("src").orderBy(
                    F.col("cnt").desc(), F.col("lab")
                )
            )
            labels = (
                cnt.withColumn("rk", rk)
                .filter(F.col("rk") == 1)
                .selectExpr("src AS node", "lab")
            )
            # Checkpoint per round EXCEPT the last (r15): the final
            # round's labels are consumed exactly once (the closing
            # groupBy), so its checkpoint was a pure extra
            # materialization + eager job. A FULLY lazy loop measured
            # 0.84x in fresh sessions BUT stacks one broadcast build
            # per round in a single plan and hit a driver broadcast OOM
            # at sf0.1 in a vanilla 1g session already holding other
            # keys' blocks (the r12 accumulated-state mode at key 4
            # instead of ~205); a 2-round valve still OOMed there.
            # This form is timing-NEUTRAL vs per-round checkpoints (A/B
            # MINs 6.43 vs 6.56 s) — the 0.84x is deliberately left on
            # the table for shared-session robustness. Fresh-session
            # outputs identical in all forms (oracle MATCH both SFs).
            if rnd != LP_ROUNDS - 1:
                labels = labels.localCheckpoint()
    return labels.groupBy("lab").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).select(F.col("lab").cast("bigint").alias("label"), "n_nodes")


# ------------------------------------------------------------ BFS hops
BFS_MAX_HOPS = 4
BFS_SRC_PARTKEYS = (1, 2, 3, 4, 5)  # sources = part nodes partkey 1..5


def _bfs_oracle() -> str:
    src_nodes = ", ".join(str(p * 2) for p in BFS_SRC_PARTKEYS)
    ctes = [
        # edges is consumed by v0 and every frontier level — wrap it
        # once as MATERIALIZED (the _kcore_oracle precedent; plain CTEs
        # inline and re-run the lineitem distinct per consumer)
        "e0 AS MATERIALIZED (SELECT src, dst FROM edges)",
        f"""v0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
            FROM e0 WHERE src IN ({src_nodes})
        )""",
        "f0 AS MATERIALIZED (SELECT node FROM v0)",
    ]
    for i in range(1, BFS_MAX_HOPS + 1):
        ctes.append(
            f"""f{i} AS MATERIALIZED (
                SELECT DISTINCT e.dst AS node
                FROM e0 e JOIN f{i-1} f ON e.src = f.node
                WHERE e.dst NOT IN (SELECT node FROM v{i-1})
            )"""
        )
        ctes.append(
            f"""v{i} AS MATERIALIZED (
                SELECT node, dist FROM v{i-1}
                UNION ALL
                SELECT node, CAST({i} AS BIGINT) AS dist FROM f{i}
            )"""
        )
    return (
        f"WITH {_EDGE_SQL}, "
        + ", ".join(ctes)
        + f"""
        SELECT CAST(node AS BIGINT) AS node, dist
        FROM v{BFS_MAX_HOPS}
        """
    )


@register(
    "q_bfs_hops",
    oracle=_bfs_oracle(),
    family="graph",
    scale_notes=(
        "multi-source BFS (min hop count within 4 hops) as the explicit "
        "frontier loop q_sql_recursive's scale notes prescribe over the "
        "recursive-SQL rendering: per level ONE equi join (frontier x "
        "edges on src), a frontier DISTINCT, and an anti join against "
        "the visited set — node discovery, never path counting, so the "
        "frontier is bounded by |V| while the recursive UNION ALL twin "
        "grows with path multiplicity. Edges are repartitioned by src "
        "once and cached; the frontier (the only per-level shuffle) is "
        "broadcast into the edge join while small — at 100 TB the "
        "frontier saturates toward |V| within a few hops on real "
        "graphs, at which point the join flips to the src-partitioned "
        "shuffle layout the edge cache already holds. The visited set "
        "is a lazy union of the per-level checkpointed frontiers (r14): "
        "each member is already a materialized RDD scan, so lineage is "
        "one cheap scan per level — no k^rounds nesting, and no "
        "re-materialization of the ever-growing set each round. "
        "Distances are exact integers"
    ),
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distance (<= 4 hops) from part nodes {1..5} over the
    part-supplier bipartite graph; explicit per-level frontier loop
    with frontier dedup + visited anti join."""
    from flexcalc_spark.tables import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark):
        edges = (
            _edges(spark, sf_dir)
            .repartition(spark.sparkContext.defaultParallelism, "src")
            .localCheckpoint()
        )
        src_nodes = [p * 2 for p in BFS_SRC_PARTKEYS]
        frontier = (
            edges.select("src")
            .filter(F.col("src").isin(src_nodes))
            .distinct()
            .select(F.col("src").alias("node"), F.lit(0).alias("dist"))
            .localCheckpoint()
        )
        visited = frontier
        for i in range(1, BFS_MAX_HOPS + 1):
            # checkpoint nxt: it is consumed TWICE (broadcast frontier
            # for round i+1's edge join + the lazy visited union, which
            # re-reads every level's member per subsequent round) — an
            # uncheckpointed frontier would re-run the whole level
            # pipeline per consumer (measured 2x loop work pre-fix)
            nxt = (
                edges.join(
                    F.broadcast(frontier.select(F.col("node").alias("src"))),
                    "src",
                )
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .select("node", F.lit(i).alias("dist"))
                .localCheckpoint()
            )
            # visited stays a LAZY union of the checkpointed levels
            # (r14): every member is already a materialized RDD scan,
            # so its two consumers per round (anti join + next union)
            # re-read cheap scans — no k^rounds lineage, and the old
            # per-round visited.localCheckpoint() re-materialized the
            # whole ever-growing visited set each level (O(V) x hops
            # extra writes) for nothing.
            visited = visited.unionAll(nxt)
            frontier = nxt
    return visited.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("bigint").alias("dist"),
    )


# -------------------------------------------- weighted shortest path
SSSP_ROUNDS = 4
SSSP_SRC_PARTKEYS = (1, 2, 3, 4, 5)  # same sources as q_bfs_hops


def _sssp_oracle() -> str:
    src_nodes = ", ".join(str(p * 2) for p in SSSP_SRC_PARTKEYS)
    ctes = [
        """wedges AS MATERIALIZED (
            SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
                   MIN(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5)
                            AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2
            UNION ALL
            SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst,
                   MIN(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5)
                            AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2
        )""",
        f"""d0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
            FROM wedges WHERE src IN ({src_nodes})
        )""",
    ]
    for i in range(1, SSSP_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
                SELECT node, MIN(dist) AS dist FROM (
                    SELECT node, dist FROM d{i-1}
                    UNION ALL
                    SELECT e.dst AS node, d.dist + e.w AS dist
                    FROM wedges e JOIN d{i-1} d ON e.src = d.node
                ) GROUP BY node
            )"""
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
        SELECT CAST(node AS BIGINT) AS node, dist AS mincost
        FROM d{SSSP_ROUNDS}
        """
    )


@register(
    "q_sssp_cost",
    oracle=_sssp_oracle(),
    family="graph",
    scale_notes=(
        "bounded-hop weighted shortest path (Bellman-Ford min-plus "
        "relaxation, 4 rounds) from five part nodes over the "
        "part-supplier graph, edge weight = min extended price on the "
        "1e-6 integer grid — the min-COST complement to q_bfs_hops' "
        "min-HOP loop. Per round ONE equi join (dist x edges on src) "
        "+ a MIN re-aggregation by node; the dist table is bounded by "
        "|V| every round (min-plus semiring, no path enumeration — "
        "the recursive-SQL rendering would grow with path count). "
        "Edges repartitioned by src once and localCheckpoint'd; dist "
        "is broadcast while small and localCheckpoint'd per round to "
        "truncate the k-deep lineage (the q_kcore rule). All-integer "
        "weights: MIN is order-insensitive, sums are exact BIGINT — "
        "partition-layout-independent by construction. At 100 TB this "
        "is the standard iterated map-side-join SSSP; the broadcast "
        "flips to the src-partitioned shuffle join once dist "
        "saturates toward |V|"
    ),
)
def q_sssp_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min path cost within 4 hops from part nodes {1..5}; per-round
    relax-all + MIN re-aggregation, integer-grid weights."""
    from flexcalc_spark.tables import scoped_shuffle_partitions, table

    li = table(spark, sf_dir, "lineitem")
    w = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5).cast("bigint")
            ).alias("w")
        )
    )
    fwd = w.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        "w",
    )
    rev = w.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
        "w",
    )
    with scoped_shuffle_partitions(spark):
        edges = (
            fwd.unionAll(rev)
            .repartition(spark.sparkContext.defaultParallelism, "src")
            .localCheckpoint()
        )
        src_nodes = [p * 2 for p in SSSP_SRC_PARTKEYS]
        dist = (
            edges.select("src")
            .filter(F.col("src").isin(src_nodes))
            .distinct()
            .select(F.col("src").alias("node"), F.lit(0).cast("bigint").alias("dist"))
            .localCheckpoint()
        )
        for _ in range(SSSP_ROUNDS):
            relax = edges.join(
                F.broadcast(dist.select(F.col("node").alias("src"), "dist")),
                "src",
            ).select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            dist = (
                dist.unionAll(relax)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint()
            )
    return dist.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").alias("mincost"),
    )


# ------------------------------------------------ link prediction
LINK_TOP = 100
RA_UNIT = 1_000_000  # resource-allocation terms on an exact ppm grid


@register(
    "q_link_predict",
    oracle=f"""
        -- resource-allocation link prediction (Zhou et al. 2009) over
        -- the part-supplier bipartite graph, brand-blocked: for part
        -- pairs of the SAME brand sharing >= 1 supplier, score =
        -- sum over shared suppliers of floor(1e6 / supplier_degree) —
        -- all-integer (1/log-degree Adamic-Adar would be an FP
        -- transcendental, the documented cross-engine hazard), floor
        -- division on positive operands so Spark div == DuckDB //
        WITH e AS MATERIALIZED (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ),
        d AS MATERIALIZED (
            SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS deg
            FROM e GROUP BY 1
        ),
        eb AS MATERIALIZED (
            SELECT e.l_partkey AS pk, e.l_suppkey AS sk,
                   p.p_brand AS brand, d.deg
            FROM e
            JOIN part p ON e.l_partkey = p.p_partkey
            JOIN d ON e.l_suppkey = d.l_suppkey
        ),
        pr AS (
            SELECT a.pk AS part_a, b.pk AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS cn,
                   CAST(SUM({RA_UNIT} // a.deg) AS BIGINT) AS ra_ppm
            FROM eb a JOIN eb b
              ON a.sk = b.sk AND a.brand = b.brand AND a.pk < b.pk
            GROUP BY 1, 2
        )
        SELECT part_a, part_b, cn, ra_ppm
        FROM pr
        ORDER BY ra_ppm DESC, cn DESC, part_a, part_b
        LIMIT {LINK_TOP}
    """,
    family="graph",
    scale_notes=(
        "link prediction by the resource-allocation index (sum of "
        "1/degree over shared neighbors — the integer-exact sibling of "
        "Adamic-Adar, whose 1/log(deg) is a cross-engine FP hazard): "
        "candidates from the inverted neighbor index (equi self-join "
        "on supplier), degree and brand attached to each edge "
        "instance BEFORE the pair join as UNHINTED equi joins (the "
        "q_cohort_ltv rule — the degree/brand tables are |suppliers|- "
        "and |parts|-sized and grow with the corpus: AQE broadcasts "
        "them at fixture scale, shuffles past the threshold), pair "
        "scores as one integer groupBy, top-k via "
        "TakeOrderedAndProject with a total-order tiebreak (score, "
        "cn, ids). HONEST census (the round-8 Zipf lesson applied to "
        "graphs): pair instances are sum(deg^2)/2 per block — "
        "quadratic in HUB degree, a data property no filter hides "
        "(measured 13.4M unblocked at sf0.01); the brand blocking "
        "divides by ~|blocks| (standard candidate blocking), and at "
        "100 TB hubs get degree-capped or down-sampled (the "
        "production lever every link-prediction system ships — cap "
        "the per-supplier explode, losing only low-signal "
        "1/deg terms)"
    ),
)
def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 same-brand part pairs by resource-allocation score over
    shared suppliers: (part_a, part_b, cn, ra_ppm) — cn = common
    suppliers, ra_ppm = sum of floor(1e6/deg(supplier))."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("brand")
    )
    e = li.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    deg = e.groupBy("sk").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # UNHINTED attaches: brand (|parts| rows) and degree (|suppliers|
    # rows) grow with the corpus — AQE broadcasts them at fixture scale
    # and falls back to shuffle past the threshold (the q_cohort_ltv
    # ADVICE-r7 rule; pinning broadcast would OOM the build side at
    # 100 TB)
    eb = e.join(p, "pk").join(deg, "sk")
    a = eb.select(
        F.col("pk").alias("part_a"), "sk", "brand", F.col("deg").alias("dg")
    )
    b = eb.select(F.col("pk").alias("part_b"), "sk", "brand")
    pairs = (
        a.join(b, ["sk", "brand"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.expr(f"{RA_UNIT} div dg")).cast("bigint").alias("ra_ppm"),
        )
    )
    return pairs.orderBy(
        F.col("ra_ppm").desc(), F.col("cn").desc(), "part_a", "part_b"
    ).limit(LINK_TOP)
