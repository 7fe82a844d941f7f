"""Pure-SQL API surface: all 22 TPC-H shapes and WITH RECURSIVE through
``spark.sql``.

Every other graded key drives the DataFrame API; these keys prove the
SQL-first path a migrating user actually types lands on the plans the
DataFrame twins get (broadcast dimensions, partial aggregates,
decorrelated subqueries, TakeOrderedAndProject). Each query is one ANSI
text over the fixture tables, adapted to the fixture schema (partsupp is
derived from lineitem; commit/receipt-date and phone predicates map to
ship-lag and nation-key codes; each text's comment names the swap).

Most keys register through ``registry.register_sql``: the text is the
DuckDB oracle and, with ``{mat}`` as ``AS``, Spark's query over temp
views of the tables it names. Q4, Q12 and Q21 compare dates in exact
epoch µs, which DuckDB derives with ``epoch_us`` and Spark with
``tables.epoch_us_of``, so they run their Spark text through
``_epoch_us_sql``; Q4's Spark text is a hand-reduced form of its
oracle's EXISTS.

Determinism: money sums ride the 1e-6 integer grid (registry rules)
written directly in the SQL text, ratios divide exact grid sums, and
every LIMIT carries the full tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flexcalc_spark.registry import register, register_sql, run_sql
from flexcalc_spark.tables import epoch_us_of, table

_REVENUE = (
    "ROUND(CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))"
    " * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 4)"
)


register_sql(
    "q_sql_tpch3",
    f"""
        SELECT l_orderkey,
               {_REVENUE} AS revenue,
               o_orderpriority
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_orderkey, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    family="sql",
    scale_notes=(
        "the SQL entry point: temp views over the same scans, one ANSI "
        "text through spark.sql — Catalyst produces the identical "
        "physical plan the DataFrame twin gets (filter pushdown on the "
        "dimension predicate, partial+final aggregation, "
        "TakeOrderedAndProject for the LIMIT), so SQL users pay zero "
        "penalty. The revenue sum is the 1e-6 integer grid written "
        "directly in SQL — the determinism rules are dialect-portable"
    ),
    doc="""TPC-H Q3-like top-10 urgent-order revenue, expressed purely as
    SQL text over registered temp views.""",
)


_Q10_BODY = f"""
    SELECT c_custkey, c_name, n_name,
           {_REVENUE} AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


register_sql(
    "q_sql_tpch10",
    _Q10_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q10 shape through the SQL surface: a 4-table join where "
        "Catalyst's join ordering + AQE pick the physical strategy — "
        "nation broadcasts (25 rows), the returnflag filter pushes into "
        "the lineitem scan cutting the fact side ~3x before the "
        "orderkey shuffle join, and the customer attach rides a "
        "custkey shuffle that AQE can flip to broadcast at small "
        "scale. TakeOrderedAndProject caps the result at 20 rows per "
        "partition before the driver merge — no global sort. The "
        "revenue grid-sum and the LIMIT tiebreak are written directly "
        "in the SQL text (dialect-portable determinism)"
    ),
    doc="""TPC-H Q10-like: top-20 customers by returned-item revenue with
    nation attached, expressed purely as SQL text.""",
)


_Q5_BODY = f"""
    SELECT n_name,
           {_REVENUE} AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
                   AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


register_sql(
    "q_sql_tpch5",
    _Q5_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q5 shape (local-supplier volume): a 6-table join where "
        "the region filter prunes nation, nation/region/supplier all "
        "broadcast, and the only wide exchanges are the fact-side "
        "orderkey and custkey shuffles; the c_nationkey = s_nationkey "
        "residual rides the supplier hash join. Catalyst's join "
        "reordering + AQE own the strategy — the query is one ANSI "
        "text, no hand-scheduling. Grid-sum revenue, ordered output "
        "with name tiebreak (5 rows, no LIMIT needed)"
    ),
    doc="""TPC-H Q5-like: revenue by nation for ASIA-region customers whose
    order lines ship from a same-nation supplier; pure SQL text.""",
)


# Seed = supplier 1's node id in the part-supplier bipartite encoding
# (2*key+1 for suppliers, 2*key for parts — graph.py's encoding).
_RECURSIVE_BODY = """
    WITH RECURSIVE edges AS (
        SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        UNION ALL
        SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    ),
    reach AS (
        SELECT CAST(3 AS BIGINT) AS node, 0 AS depth
        UNION ALL
        SELECT e.dst AS node, r.depth + 1 AS depth
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.depth < 2
    )
    SELECT node, CAST(MIN(depth) AS BIGINT) AS hops
    FROM reach GROUP BY node
"""


register_sql(
    "q_sql_recursive",
    _RECURSIVE_BODY,
    family="sql",
    scale_notes=(
        "recursive CTE (Spark 4 WITH RECURSIVE) running 2-hop BFS over "
        "the part-supplier bipartite graph — the SQL-surface twin of "
        "the explicit iterative loops (q_pagerank, q_dedup_clusters). "
        "Each recursion level is one equi-join + union, exactly the "
        "iterative-join shape; the depth bound keeps the UNION ALL "
        "frontier from exploding combinatorially (depth 3 on this graph "
        "is 7.3M paths vs 2.5k at depth 2 — path-counting, not node "
        "discovery). At 100 TB prefer the explicit loop with "
        "frontier dedup per level and checkpointing; this key certifies "
        "the recursive SQL execution itself against DuckDB"
    ),
    doc="""2-hop BFS reachability (min hops per node) from supplier 1 via
    WITH RECURSIVE over the bipartite lineitem graph; pure SQL text.""",
)


_Q18_BODY = f"""
    SELECT c_custkey, o_orderkey,
           {_REVENUE.replace("l_extendedprice * (1 - l_discount)",
                             "l_quantity")} AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT))
               > 150000000
    )
    GROUP BY c_custkey, o_orderkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
"""


register_sql(
    "q_sql_tpch18",
    _Q18_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q18 shape (large-volume orders): the IN subquery with a "
        "HAVING aggregate must decorrelate into an aggregate + "
        "LeftSemi join on orderkey (plan-asserted — a per-row re-scan "
        "would be O(n^2) scans at 100 TB), and the qualifying-order "
        "set then drives the 3-table join. The HAVING threshold "
        "compares the same 1e-6 grid BIGINT both engines compute; "
        "TakeOrderedAndProject caps output at 20 with a full tiebreak"
    ),
    doc="""TPC-H Q18-like: top-20 (customer, order) by total quantity among
    orders whose total quantity exceeds 150; pure SQL text.""",
)


_Q7_BODY = f"""
    SELECT supp_nation, cust_nation, l_year,
           {_REVENUE} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               l_extendedprice, l_discount
        FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
             JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
             JOIN nation n1 ON s_nationkey = n1.n_nationkey
             JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


register_sql(
    "q_sql_tpch7",
    _Q7_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q7 (volume shipping) through the SQL surface: the "
        "nation table joins TWICE under different aliases (supplier "
        "side and customer side) — both 25-row broadcasts — and the "
        "nation-pair disjunction prunes BEFORE the grouped aggregation, "
        "so the only corpus-scale work is the lineitem-orders orderkey "
        "shuffle on pre-filtered rows. year() on the shipdate is "
        "engine-portable integer extraction; revenue rides the 1e-6 "
        "grid written in the SQL text. The classic plan trap — "
        "aggregating then filtering nations — never arises because "
        "Catalyst pushes the disjunction through the joins"
    ),
    doc="""TPC-H Q7-like bilateral shipping volume between NATION_1 and
    NATION_2 by year, expressed purely as SQL text.""",
)


# Promo share per month: both engines derive the ratio from the SAME
# exact BIGINT grid sums, so the double division is bit-identical and
# is emitted raw (per-row FP rule — never round per-row doubles).
_Q14_BODY = """
    SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(month(l_shipdate) AS BIGINT) AS l_month,
           CAST(100.0 AS DOUBLE)
             * SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(FLOOR((l_extendedprice * (1 - l_discount))
                                        * 1000000.0 + 0.5) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END)
             / SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))
                              * 1000000.0 + 0.5) AS BIGINT))
               AS promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY l_year, l_month
    ORDER BY l_year, l_month
"""


register_sql(
    "q_sql_tpch14",
    _Q14_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q14 (promo effect) through the SQL surface: one "
        "partkey join (part broadcasts at dimension scale) feeding a "
        "conditional-aggregate ratio per ship month. Both numerator "
        "and denominator are exact 1e-6-grid BIGINT sums, so the final "
        "double division is bit-identical across engines and shuffle "
        "orders — the published query's SUM(CASE)/SUM shape survives "
        "verbatim, no decimal gymnastics. At 100 TB the month grouping "
        "rides the same shuffle as any rollup; the part join is the "
        "only fact-side movement"
    ),
    doc="""TPC-H Q14-like monthly PROMO revenue share, expressed purely as
    SQL text.""",
)


_Q19_BODY = f"""
    SELECT {_REVENUE} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
"""


register_sql(
    "q_sql_tpch19",
    _Q19_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q19 (discounted revenue, the OR-of-ANDs predicate "
        "benchmark) through the SQL surface: the three brand/size/"
        "quantity conjunctions form a disjunction that Catalyst "
        "splits — the part-side terms (brand, size) push into the "
        "part scan and the lineitem-side quantity bounds push into "
        "the fact scan as a range union, so both inputs shrink before "
        "the partkey join instead of filtering post-join (the naive "
        "plan). Single-row grid-sum output; the count column keeps "
        "the row non-degenerate for hashing"
    ),
    doc="""TPC-H Q19-like OR-of-ANDs discounted revenue, expressed purely
    as SQL text.""",
)


# Market share: numerator and denominator are exact grid sums, so the
# double ratio is bit-identical across engines (the Q14 discipline).
_Q8_BODY = """
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_1' THEN rev_g
                         ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
             / SUM(rev_g) AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(FLOOR((l_extendedprice * (1 - l_discount))
                          * 1000000.0 + 0.5) AS BIGINT) AS rev_g,
               n2.n_name AS nation
        FROM part JOIN lineitem ON p_partkey = l_partkey
             JOIN supplier ON s_suppkey = l_suppkey
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation n1 ON c_nationkey = n1.n_nationkey
             JOIN region ON n1.n_regionkey = r_regionkey
             JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


register_sql(
    "q_sql_tpch8",
    _Q8_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q8 (national market share) through the SQL surface — "
        "the widest star in the suite: an 8-relation join where every "
        "dimension (part filtered to PROMO, both nation aliases, "
        "region) broadcasts and the only corpus-scale shuffles are "
        "lineitem-orders on orderkey and the customer attach; the "
        "region and type filters prune BOTH fact sides before the "
        "joins. The share is a SUM(CASE)/SUM ratio of exact grid "
        "BIGINTs, so the per-year double is bit-identical across "
        "engines — the published query's decimal expression survives "
        "without decimal types"
    ),
    doc="""TPC-H Q8-like yearly PROMO market share of NATION_1 suppliers
    within ASIA-region customers, purely as SQL text.""",
)


def _epoch_us_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run ``text`` over the views ``orders_us`` and ``lineitem_us``:
    orders and lineitem with their dates as exact epoch µs (``o_us``,
    ``l_us``; the oracle's ``epoch_us``, schema-dispatched because the
    fixture's timestamp precision has changed before), plus the fixture
    tables the text names."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o.withColumn("o_us", epoch_us_of(o, "o_orderdate")).createOrReplaceTempView("orders_us")
    li.withColumn("l_us", epoch_us_of(li, "l_shipdate")).createOrReplaceTempView("lineitem_us")
    return run_sql(spark, sf_dir, text)


# Q4's commit/receipt columns don't exist in the fixture; the adapted
# predicate keeps the EXISTS-semi-join shape: an order counts when some
# line shipped more than 90 days after the order date.
_Q4_BODY = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND epoch_us(l_shipdate) - epoch_us(o_orderdate)
              > CAST(90 AS BIGINT) * 86400000000
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register(
    "q_sql_tpch4",
    oracle=_Q4_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q4 shape (order priority checking): the oracle keeps "
        "the published EXISTS text, but because the lateness threshold "
        "is uniform across an order's lines the EXISTS is "
        "aggregate-reducible — an order has a late line iff its "
        "LATEST-shipping line is late — so the engine plans a "
        "per-order MAX with map-side partial aggregation: the fact "
        "table collapses to |orders| rows BEFORE the only shuffle, "
        "and the residual is a scalar compare on the joined row. "
        "Catalyst does not perform this rewrite itself (it plans the "
        "EXISTS as a fact x fact LeftSemi whose both sides shuffle in "
        "full — the round-6 probe's 3.18x spot); the EXISTS->semi "
        "decorrelation shape stays graded by Q18/Q21/Q22. Exact "
        "integer epoch-µs lateness on both engines"
    ),
)
def q_sql_tpch4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-like late-shipment order census by priority; the
    uniform-threshold EXISTS is hand-reduced to a per-order MAX
    aggregate + equi join (oracle stays the EXISTS formulation)."""
    return _epoch_us_sql(
        spark, sf_dir,
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders_us
        JOIN (
            SELECT l_orderkey, MAX(l_us) AS max_l_us
            FROM lineitem_us GROUP BY l_orderkey
        ) latest ON latest.l_orderkey = o_orderkey
        WHERE max_l_us - o_us > CAST(90 AS BIGINT) * 86400000000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
    )


# Q13's comment-pattern exclusion has no fixture column; the adapted
# exclusion (urgent orders don't count) keeps the graded shape intact:
# a null-preserving LEFT join with a filter INSIDE the ON clause, a
# COUNT over the nullable side, then a distribution over the counts.
_Q13_BODY = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey,
               CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


register_sql(
    "q_sql_tpch13",
    _Q13_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q13 (customer order-count distribution) through the SQL "
        "surface: the ON-clause predicate must filter the orders side "
        "BEFORE the outer join without discarding order-less customers "
        "(moving it to WHERE would silently turn the join inner — the "
        "null-preservation trap this key grades), and COUNT(o_orderkey) "
        "counts only matched rows so zero-order customers land in the "
        "c_count=0 bucket. Two shuffles (custkey join, count grouping) "
        "over a dimension-sized table; the second grouping is "
        "|distinct counts| rows. Full ORDER BY tiebreak, no LIMIT"
    ),
    doc="""TPC-H Q13-like distribution of non-urgent order counts per
    customer (c_count, custdist), purely as SQL text.""",
)


# Q21's commit/receipt columns don't exist in the fixture; "supplier
# kept the order waiting" is adapted to "shipped > 90 days after the
# order date" — the EXISTS + NOT EXISTS fact x fact self-join shape
# (the hardest decorrelation in the suite) is preserved verbatim.
_Q21_DAYS = 90


def _q21_text(l: str, o: str) -> str:
    late = f"{{a}}.l_us - {{b}}.o_us > CAST({_Q21_DAYS} AS BIGINT) * 86400000000"
    return f"""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier JOIN {l} l1 ON s_suppkey = l1.l_suppkey
         JOIN {o} o1 ON o1.o_orderkey = l1.l_orderkey
         JOIN nation ON s_nationkey = n_nationkey
    WHERE o1.o_orderstatus = 'F'
      AND {late.format(a="l1", b="o1")}
      AND n_name = 'NATION_1'
      AND EXISTS (
          SELECT 1 FROM {l} l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM {l} l3
          JOIN {o} o2 ON o2.o_orderkey = l3.l_orderkey
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND {late.format(a="l3", b="o2")}
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """


@register(
    "q_sql_tpch21",
    oracle=_q21_text(
        l="(SELECT l_orderkey, l_suppkey,"
          " epoch_us(l_shipdate) AS l_us FROM lineitem)",
        o="(SELECT o_orderkey, o_orderstatus,"
          " epoch_us(o_orderdate) AS o_us FROM orders)",
    ),
    family="sql",
    scale_notes=(
        "TPC-H Q21 (suppliers who kept orders waiting) — the hardest "
        "semi/anti planning shape in the suite: a correlated EXISTS "
        "AND a correlated NOT EXISTS, both against the fact table "
        "itself, must decorrelate into one LeftSemi and one LeftAnti "
        "hash join on orderkey (a per-row re-scan is O(n^2) fact "
        "scans at 100 TB — plan-asserted in tests/test_plans.py). "
        "The nation filter broadcasts and prunes the supplier side "
        "~25x before the fact joins; lateness runs in integer "
        "epoch-µs on both engines. Output is |suppliers of one "
        "nation| rows with full ORDER BY tiebreaks"
    ),
)
def q_sql_tpch21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-like: per-supplier census of F-status orders where
    this supplier's line shipped >90 days late and no other supplier's
    line did (s_name, numwait); pure SQL text."""
    return _epoch_us_sql(
        spark, sf_dir, _q21_text(l="lineitem_us", o="orders_us")
    )


# Q22's phone country code has no fixture column; the 2-digit code is
# derived from the nation key (substring over a zero-padded cast), and
# "no orders at all" (empty at this SF) becomes "no urgent orders".
# The above-average comparison is exact: bal_g * N > S with N and S
# from two uncorrelated scalar subqueries over the same grid BIGINTs —
# no cross-engine FP-average boundary, no integer-division dialect gap.
_Q22_BODY = """
    WITH sel {mat} (
        SELECT substring(CAST(c_nationkey + 100 AS STRING), 2, 2)
                   AS cntrycode,
               c_acctbal, c_custkey,
               CAST(FLOOR(c_acctbal * 1000000.0 + 0.5) AS BIGINT)
                   AS bal_g
        FROM customer
        WHERE substring(CAST(c_nationkey + 100 AS STRING), 2, 2)
              IN ('01','03','05','07','09','11','13')
    )
    SELECT cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(CAST(SUM(bal_g) AS DOUBLE) / 1000000.0, 4)
               AS totacctbal
    FROM sel
    WHERE bal_g * (SELECT COUNT(*) FROM sel WHERE c_acctbal > 0.0)
          > (SELECT SUM(bal_g) FROM sel WHERE c_acctbal > 0.0)
      AND c_custkey NOT IN (
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      )
    GROUP BY cntrycode
    ORDER BY cntrycode
"""


register_sql(
    "q_sql_tpch22",
    _Q22_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q22 (global sales opportunity) through the SQL surface: "
        "NOT IN over a subquery must plan as a null-aware anti join "
        "(Spark's BroadcastHashJoin LeftAnti with the null-aware flag "
        "— the semantics trap: one NULL in the subquery empties the "
        "result, which the planner must preserve), and the two "
        "uncorrelated scalar aggregates evaluate once and broadcast "
        "as literals into the filter. The above-average cut is exact "
        "integer cross-multiplication (bal_g * N > S) on 1e-6-grid "
        "BIGINTs — no FP average whose summation order could flip "
        "boundary customers between engines. One customer-table scan "
        "+ one urgent-orders projection; output is 7 code groups"
    ),
    doc="""TPC-H Q22-like: above-average-balance customers with no urgent
    orders, grouped by derived country code (cntrycode, numcust,
    totacctbal); pure SQL text.""",
)


_Q1_BODY = """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(qty_g) AS DOUBLE) / 1000000.0, 4) AS sum_qty,
           ROUND(CAST(SUM(bp_g) AS DOUBLE) / 1000000.0, 4)
               AS sum_base_price,
           ROUND(CAST(SUM(dp_g) AS DOUBLE) / 1000000.0, 4)
               AS sum_disc_price,
           ROUND(CAST(SUM(ch_g) AS DOUBLE) / 1000000.0, 4) AS sum_charge,
           CAST(SUM(qty_g) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_qty,
           CAST(SUM(bp_g) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_price,
           CAST(SUM(dc_g) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM (
        SELECT l_returnflag, l_linestatus,
               CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)
                   AS qty_g,
               CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)
                   AS bp_g,
               CAST(FLOOR(l_extendedprice * (1 - l_discount)
                          * 1000000.0 + 0.5) AS BIGINT) AS dp_g,
               CAST(FLOOR(l_extendedprice * (1 - l_discount)
                          * (1 + l_tax) * 1000000.0 + 0.5) AS BIGINT)
                   AS ch_g,
               CAST(FLOOR(l_discount * 1000000.0 + 0.5) AS BIGINT)
                   AS dc_g
        FROM lineitem
        WHERE year(l_shipdate) <= 1998
    ) g
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


register_sql(
    "q_sql_tpch1",
    _Q1_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q1 (pricing summary — THE scan-aggregate benchmark) "
        "through the SQL surface: one fact scan, map-side partial "
        "aggregation into 4 groups, every measure a 1e-6-grid BIGINT "
        "sum; the averages divide exact grid sums by exact counts in "
        "double space, so they are bit-identical across engines and "
        "shuffle orders (never an engine AVG over raw doubles). At "
        "100 TB this is the shape that proves map-side combine: 4 "
        "output rows from any number of input splits, shuffle bytes "
        "= |partitions| x 4 rows"
    ),
    doc="""TPC-H Q1-like pricing summary (grid-exact sums and averages
    per returnflag/linestatus), purely as SQL text.""",
)


# ps is a derived part-supplier cost table (the fixture has no
# partsupp): min observed unit price per (part, supplier), on the 1e-6
# grid.
_Q2_BODY = """
    WITH ps {mat} (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               MIN(CAST(FLOOR(l_extendedprice / l_quantity * 1000000.0
                              + 0.5) AS BIGINT)) AS cost_g
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name,
           CAST(p_partkey AS BIGINT) AS p_partkey, cost_g
    FROM part
    JOIN ps ON p_partkey = ps.partkey
    JOIN supplier ON s_suppkey = ps.suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
      AND cost_g = (
          SELECT MIN(ps2.cost_g) FROM ps ps2
          JOIN supplier s2 ON s2.s_suppkey = ps2.suppkey
          JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE ps2.partkey = p_partkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
"""


register_sql(
    "q_sql_tpch2",
    _Q2_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q2 (minimum-cost supplier) through the SQL surface: "
        "the correlated scalar MIN subquery — same region, same part, "
        "cheapest cost — must decorrelate into a per-part MIN "
        "aggregate joined back on partkey (a per-part re-scan of the "
        "supplier network is O(parts) scans at 100 TB). partsupp is "
        "derived from lineitem as min observed grid unit price per "
        "(part, supplier) — one map-side-combined aggregation. The "
        "region filter broadcasts down both arms; costs are 1e-6-grid "
        "BIGINTs so the min-equality never hits an FP tie; LIMIT 20 "
        "carries the full published tiebreak (acctbal DESC, nation, "
        "supplier, part)"
    ),
    doc="""TPC-H Q2-like: suppliers offering the region-minimum derived
    cost for size-15 LARGE parts in EUROPE; pure SQL text.""",
)


_Q6_BODY = """
    SELECT ROUND(CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount
                       * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000000.0, 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE year(l_shipdate) = 1998
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


register_sql(
    "q_sql_tpch6",
    _Q6_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q6 (forecasting revenue change) through the SQL "
        "surface: pure scan-filter-aggregate — every predicate "
        "(year, discount band, quantity cap) must reach the parquet "
        "scan as pushed filters so the aggregate sees only qualifying "
        "rows; zero joins, zero wide shuffles, one output row. The "
        "canary for scan-side predicate evaluation staying inside "
        "whole-stage codegen"
    ),
    doc="""TPC-H Q6-like single-row filtered revenue aggregate, purely as
    SQL text.""",
)


# Profit proxy: the fixture has no supplycost, so cost is rendered as
# 10% of retail price x quantity — one per-row double expression,
# identical text in both engines, grid-floored before the sum.
_Q9_BODY = """
    SELECT nation, o_year,
           ROUND(CAST(SUM(amount_g) AS DOUBLE) / 1000000.0, 4)
               AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(FLOOR((l_extendedprice * (1 - l_discount)
                           - p_retailprice * l_quantity * 0.1)
                          * 1000000.0 + 0.5) AS BIGINT) AS amount_g
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


register_sql(
    "q_sql_tpch9",
    _Q9_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q9 (product-type profit) through the SQL surface: the "
        "LIKE filter on part prunes the broadcast dimension BEFORE "
        "the fact join (so the fact side shrinks at the partkey hash "
        "join, not after), supplier and nation broadcast, and the "
        "only corpus shuffles are the orderkey join and the "
        "(nation, year) rollup. The profit measure is one per-row "
        "double expression grid-floored before summing — "
        "cross-engine exact. The widest profit rollup in the suite: "
        "|nations| x |years| output rows"
    ),
    doc="""TPC-H Q9-like profit by nation and order year over red parts
    (derived cost = 10% of retail x quantity); pure SQL text.""",
)


_Q11_BODY = """
    WITH val AS (
        SELECT n_name,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                              * 1000000.0 + 0.5) AS BIGINT)) AS v
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, ROUND(CAST(v AS DOUBLE) / 1000000.0, 4) AS value
    FROM val
    WHERE v * 20 > (SELECT SUM(v) FROM val)
    ORDER BY v DESC, n_name
"""


register_sql(
    "q_sql_tpch11",
    _Q11_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q11 (important stock identification) through the SQL "
        "surface: the group-vs-global HAVING shape — per-nation value "
        "totals filtered against a scalar fraction of the grand "
        "total. The scalar subquery re-aggregates the same CTE; "
        "Catalyst evaluates it once as an uncorrelated subquery and "
        "broadcasts the literal into the filter. The share threshold "
        "is exact integer cross-multiplication (v * 20 > total, i.e. "
        "share > 5%) on grid BIGINTs — no FP ratio at the cut "
        "boundary. Value sums are map-side combined; output is "
        "|nations| rows"
    ),
    doc="""TPC-H Q11-like: nations holding > 5% of total supplied value
    (n_name, value); pure SQL text.""",
)


# Q12's shipmode/commitdate columns don't exist; the adapted census
# keeps the SUM(CASE) priority-split over a ship-lag predicate.
_Q12_BODY = """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority
                              NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS low_line_count
    FROM {o} JOIN {l} ON o_orderkey = l_orderkey
    WHERE l_us - o_us > CAST(30 AS BIGINT) * 86400000000
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


@register(
    "q_sql_tpch12",
    oracle=_Q12_BODY.format(
        o="(SELECT o_orderkey, o_orderpriority,"
          " epoch_us(o_orderdate) AS o_us FROM orders)",
        l="(SELECT l_orderkey, l_returnflag,"
          " epoch_us(l_shipdate) AS l_us FROM lineitem)",
    ),
    family="sql",
    scale_notes=(
        "TPC-H Q12 (shipping-mode priority census) through the SQL "
        "surface: one fact-fact orderkey join with a cross-table "
        "residual (ship lag > 30 days, integer epoch-µs both "
        "engines), then the SUM(CASE) double-count per group — the "
        "conditional-aggregation shape that must stay one pass (two "
        "separate filtered aggregates would re-shuffle the join "
        "output twice). Output is |returnflags| rows"
    ),
)
def q_sql_tpch12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-like high/low-priority line census among late-shipped
    lines, grouped by return flag; pure SQL text."""
    return _epoch_us_sql(
        spark, sf_dir, _Q12_BODY.format(o="orders_us", l="lineitem_us")
    )


_Q15_BODY = """
    WITH rev {mat} (
        SELECT l_suppkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                              * 1000000.0 + 0.5) AS BIGINT)) AS total_g
        FROM lineitem
        WHERE year(l_shipdate) = 1996 AND quarter(l_shipdate) = 1
        GROUP BY l_suppkey
    )
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
           ROUND(CAST(total_g AS DOUBLE) / 1000000.0, 4)
               AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_g = (SELECT MAX(total_g) FROM rev)
    ORDER BY s_suppkey
"""


register_sql(
    "q_sql_tpch15",
    _Q15_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q15 (top supplier) through the SQL surface: the "
        "revenue 'view' is a CTE consumed twice — once joined to "
        "supplier, once re-aggregated to the scalar MAX — and the "
        "argmax-by-equality must compare exact grid BIGINTs (an FP "
        "revenue would make 'equal to the max' engine-dependent at "
        "the ulp). The quarter filter pushes to the scan; ties on "
        "the max all emit (the published semantics) so no arbitrary "
        "pick exists. Supplier-sized work after one fact aggregation"
    ),
    doc="""TPC-H Q15-like: supplier(s) with the maximum quarterly revenue
    (s_suppkey, s_name, total_revenue); pure SQL text.""",
)


# Q16's "customer complaints" supplier exclusion maps to negative
# account balance (the fixture has no comment column).
_Q16_BODY = """
    SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
          FROM lineitem) ps
    JOIN part ON p_partkey = partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
"""


register_sql(
    "q_sql_tpch16",
    _Q16_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q16 (parts/supplier relationship) through the SQL "
        "surface: NOT IN over the excluded-supplier subquery plans as "
        "a null-aware anti join against the derived part-supplier "
        "pairs, the part attribute filters broadcast, and the "
        "COUNT(DISTINCT supplier) per (brand, size) is the two-level "
        "distinct aggregate (map-side pair dedup before the shuffle). "
        "The derived pair table replaces partsupp — same "
        "|E|-bounded census shape"
    ),
    doc="""TPC-H Q16-like supplier-count census per (brand, size) with
    negative-balance suppliers excluded; pure SQL text.""",
)


# The 0.2-of-average cut is exact integer cross-multiplication:
# qty < 0.2 * (sum/cnt)  <=>  5 * qty_g * cnt < sum_g.
_Q17_BODY = """
    WITH li {mat} (
        SELECT l_partkey,
               CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)
                   AS qty_g,
               CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)
                   AS ep_g
        FROM lineitem
    )
    SELECT ROUND(CAST(SUM(ep_g) AS DOUBLE) / 1000000.0 / 7.0, 4)
               AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM li JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
      AND 5 * qty_g * (SELECT COUNT(*) FROM li l2
                       WHERE l2.l_partkey = li.l_partkey)
          < (SELECT SUM(l3.qty_g) FROM li l3
             WHERE l3.l_partkey = li.l_partkey)
"""


register_sql(
    "q_sql_tpch17",
    _Q17_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q17 (small-quantity-order revenue) through the SQL "
        "surface: TWO correlated scalar aggregates over the fact "
        "table (per-part count and per-part quantity sum) must "
        "decorrelate into per-part aggregate + equi joins — the "
        "classic below-average-of-my-group shape, O(n^2) as a "
        "re-scan. The 20%-of-average cut is exact integer "
        "cross-multiplication on grid BIGINTs (5*qty*cnt < sum), so "
        "no engine's division order can flip a boundary row. Brand/"
        "type filters broadcast-prune before the fact joins"
    ),
    doc="""TPC-H Q17-like: revenue from Brand#23 MEDIUM lines below 20% of
    their part's average quantity (avg_yearly, n_lines); SQL text.""",
)


# Q20's availqty dominance comparison renders scale-stably as
# "ships > 3x the per-part average supplier volume": exact integer
# cross-multiplication q * cnt > 3 * total (an absolute majority share
# empties as supplier count per part grows with scale).
_Q20_BODY = """
    WITH ps {mat} (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               SUM(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT))
                   AS q
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT suppkey FROM ps
        WHERE partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
        )
          AND q * (SELECT COUNT(*) FROM ps c
                   WHERE c.partkey = ps.partkey)
              > 3 * (SELECT SUM(ps2.q) FROM ps ps2
                     WHERE ps2.partkey = ps.partkey)
    )
    ORDER BY s_suppkey
"""


register_sql(
    "q_sql_tpch20",
    _Q20_BODY,
    family="sql",
    scale_notes=(
        "TPC-H Q20 (potential part promotion) through the SQL "
        "surface: the nested subquery chain — IN (pairs filtered by "
        "IN (parts) AND a correlated scalar SUM over the pair table "
        "itself) — must flatten into two semi joins plus decorrelated "
        "per-part aggregates joined back on partkey; nothing here may "
        "plan as a per-row re-scan. The dominance cut (supplier ships "
        ">3x the per-part average supplier volume) is exact integer "
        "cross-multiplication on grid sums and stays non-degenerate "
        "as supplier count per part grows with scale. The pair table "
        "derives from lineitem with one map-side-combined "
        "aggregation, replacing partsupp"
    ),
    doc="""TPC-H Q20-like: suppliers shipping the majority of some red
    part's volume vs the average supplier (s_suppkey, s_name,
    n_name); pure SQL text.""",
)
