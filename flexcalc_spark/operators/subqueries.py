"""Subquery operators — scalar, correlated-scalar, and IN subqueries.

The relational core (SURVEY.md §2.2) exercises EXISTS/NOT EXISTS through
the semi/anti join keys; these three keys cover the remaining subquery
surface and, more importantly, exercise **Catalyst's subquery planning**:

- an uncorrelated scalar subquery becomes a single-row subquery stage
  whose result is reused as a literal (one extra tiny job, no join);
- a correlated scalar subquery is DECORRELATED into an aggregate +
  equi join on the correlation key (SURVEY §4.2 — this rewrite is free
  engine code we must not hand-roll);
- an IN subquery plans as a left-semi join.

Each query is written as ONE ANSI SQL text that runs verbatim on both
Spark and DuckDB (the string is its own oracle, registered through
``registry.register_sql``), so the subquery *semantics* — not a
hand-decorrelated DataFrame translation — are what is graded.

Determinism: threshold comparisons ("above average") are evaluated in
exact DECIMAL arithmetic rearranged to avoid division (x > sum/cnt is
written x*cnt > sum), so membership near the boundary cannot flip with
partition order or engine FP summation (see registry docstring rules).

Reference cites (mount empty, module::symbol per SURVEY §0): flexcalc
has no query language; this family is the driver-contract relational
surface (SURVEY §2.2) exercised at the SQL layer.
"""

from __future__ import annotations

from flexcalc_spark.registry import register_sql

_SCALAR_SQL = """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE CAST(o_totalprice AS DECIMAL(18,6)) * (SELECT COUNT(*) FROM orders)
          > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,6))) FROM orders)
"""


register_sql(
    "q_subquery_scalar",
    _SCALAR_SQL,
    family="subqueries",
    scale_notes="uncorrelated scalar subquery: Spark runs the aggregate as its own tiny job and inlines the result — the big scan happens once, with the threshold available as a literal; the x*cnt > sum rearrangement keeps the comparison in exact decimals (no FP boundary flips at any scale)",
    doc="Orders priced above the global average (scalar subquery in WHERE).",
)


_CORRELATED_SQL = """
    SELECT COUNT(*) AS n_small,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_small_price
    FROM lineitem l
    WHERE CAST(l_quantity AS DECIMAL(18,6)) *
          (SELECT 5 * COUNT(*) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
        < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
"""


register_sql(
    "q_subquery_correlated",
    _CORRELATED_SQL,
    family="subqueries",
    scale_notes="TPC-H Q17 shape: Catalyst decorrelates each correlated scalar subquery into a per-partkey aggregate joined back on l_partkey — one shuffle keyed on partkey instead of a per-row re-scan (which would be O(n²) reads at 100 TB); qty*5*cnt < sum keeps the 20%%-of-average threshold exact in decimals",
    doc="""Lineitems below 20% of their part's average quantity (correlated
    scalar subqueries, decorrelated by the optimizer).""",
)


_IN_SQL = """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         WHERE l_quantity >= 49)
    GROUP BY o_orderstatus
"""


register_sql(
    "q_subquery_in",
    _IN_SQL,
    family="subqueries",
    scale_notes="IN subquery plans as a left-semi join on orderkey: the subquery side is filtered before the shuffle and the probe never multiplies rows — at 100 TB the l_quantity filter pushes into the lineitem scan so the semi-join build side is a fraction of the table",
    doc="""Order counts by status among orders having a high-quantity lineitem
    (IN subquery → left-semi join).""",
)
