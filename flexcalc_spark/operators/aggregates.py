"""Aggregation operators (SURVEY.md §2.2 "Aggregations").

Reference parity: flexcalc's analysis layer is semantically group-bys over
dense arrays — histogram (analyze.py::histogram, R18), intensity range
(::intensity_range, R19), centre of mass (::centre, R20), moments
(::moment2/::moments_orientation, R21). Each maps to a hash aggregate
here; Spark runs them partial+final (map-side combine) automatically.

Determinism: grouped SUM/AVG of DOUBLE columns are snapped to a 1e-6
integer grid per row (floor(x * 1e6 + 0.5) AS BIGINT) and summed as
BIGINT on BOTH engines, then unscaled. Plain double summation is
order-dependent (at sf0.1 a ~1e9-magnitude sum reordered across
partitions perturbs by ~1e-4 — enough to flip ROUND(...,4) between
runs); integer sums are exact, partition-order independent, and 5-6x
faster than the DECIMAL(18,6) sums used through round 1 (decimal
aggregation runs outside the long-adder codegen fast path; measured
1.25 s -> 0.22 s for 4 sums over sf0.1 lineitem). Overflow bound:
n * max|x| * 1e6 must stay < 2^63 — holds to ~sf100 for TPC-H amounts;
beyond that, drop the grid to 1e2 or combine per-shard BIGINT partials
into DECIMAL(38,6). Well-conditioned statistics (stddev/corr/
percentile/...) stay double.

Scale: every query here is a single shuffle keyed on its group-by column;
partial aggregation bounds shuffle volume by group cardinality (3-25
groups for most), so these plans are flat at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flexcalc_spark.registry import register, register_sql
from flexcalc_spark.tables import table

GRID = 1_000_000.0       # 1e-6 integer grid for order-independent sums


def gsum_raw(col: str | Column) -> Column:
    """Exact BIGINT sum of a double column on the 1e-6 grid (unscaled)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * GRID + 0.5).cast("bigint"))


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent rounded sum of a double column (see module doc)."""
    return F.round(gsum_raw(col).cast("double") / GRID, 4).alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Order-independent rounded mean: exact integer-grid sum / count."""
    return F.round(
        gsum_raw(col).cast("double") / GRID / F.count(F.lit(1)), 4
    ).alias(alias)


def _osum_raw(expr: str) -> str:
    return f"CAST(SUM(CAST(floor(({expr}) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)"


def _osum(expr: str) -> str:
    # parenthesized: composes correctly inside ratios (a/b) and /COUNT(*)
    return f"({_osum_raw(expr)} / 1000000.0)"


@register(
    "q_agg_global",
    oracle=f"""
        SELECT COUNT(*) AS cnt,
               ROUND({_osum('l_quantity')}, 4) AS sum_qty,
               ROUND({_osum('l_extendedprice')} / COUNT(*), 4) AS avg_price,
               ROUND(MIN(l_discount), 4) AS min_disc,
               ROUND(MAX(l_tax), 4) AS max_tax
        FROM lineitem
    """,
    family="aggregates",
    scale_notes="global agg = partial per partition + single final reduce",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sum/avg/min/max/count in one pass."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_quantity", "sum_qty"),
        davg("l_extendedprice", "avg_price"),
        F.round(F.min("l_discount"), 4).alias("min_disc"),
        F.round(F.max("l_tax"), 4).alias("max_tax"),
    )


@register(
    "q_agg_groupby",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               ROUND({_osum('l_quantity')}, 4) AS sum_qty,
               ROUND({_osum('l_extendedprice')}, 4) AS sum_base_price,
               ROUND({_osum('l_extendedprice * (1 - l_discount)')}, 4) AS sum_disc_price,
               ROUND({_osum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}, 4) AS sum_charge,
               ROUND({_osum('l_quantity')} / COUNT(*), 4) AS avg_qty,
               ROUND({_osum('l_extendedprice')} / COUNT(*), 4) AS avg_price,
               ROUND({_osum('l_discount')} / COUNT(*), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    family="aggregates",
    scale_notes="TPC-H Q1: 6-group hash agg; shuffle carries 6 rows/partition after partial agg",
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the flagship query (entry())."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS uniq_users,
               COUNT(*) AS cnt
        FROM events
        GROUP BY event_type
    """,
    family="aggregates",
    scale_notes="exact distinct = expand+two-phase agg; q_agg_approx is the 100 TB path",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("uniq_users"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q_agg_approx",
    oracle=None,  # approximate result: HLL sketch differs per engine (rows-only)
    family="aggregates",
    scale_notes="HLL sketch: fixed-size state, no distinct expansion — the 100 TB distinct path",
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event_type."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


@register(
    "q_agg_approx_percentile",
    oracle=None,  # sketch-based: Spark's quantile summaries have no DuckDB
    # twin; tests assert the estimates bracket the exact percentiles
    family="aggregates",
    scale_notes="approx_percentile: bounded-memory quantile sketch, mergeable across partitions — the 100 TB twin of the exact sort-based q_agg_percentile",
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles with bounded relative error."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("approx_percentile(l_quantity, 0.5, 1000)"), 4).alias("p50"),
        F.round(F.expr("approx_percentile(l_extendedprice, 0.95, 1000)"), 4).alias(
            "price_p95"
        ),
    )


@register(
    "q_agg_stats",
    oracle="""
        WITH mu AS (
            SELECT l_returnflag AS rf, AVG(l_quantity) AS mu_q
            FROM lineitem GROUP BY 1
        )
        SELECT l.l_returnflag,
               ROUND(STDDEV_SAMP(l.l_quantity), 4) AS std_qty,
               ROUND(VAR_SAMP(l.l_quantity), 4) AS var_qty,
               ROUND(AVG(POWER(l.l_quantity - mu.mu_q, 3))
                     / POWER(AVG(POWER(l.l_quantity - mu.mu_q, 2)), 1.5), 4) + 0.0 AS skew_qty,
               ROUND(AVG(POWER(l.l_quantity - mu.mu_q, 4))
                     / POWER(AVG(POWER(l.l_quantity - mu.mu_q, 2)), 2) - 3, 4) + 0.0 AS kurt_qty,
               ROUND(CORR(l.l_quantity, l.l_extendedprice), 4) + 0.0 AS corr_qty_price,
               ROUND(COVAR_SAMP(l.l_quantity, l.l_extendedprice), 4) + 0.0 AS cov_qty_price
        FROM lineitem l JOIN mu ON l.l_returnflag = mu.rf
        GROUP BY l.l_returnflag
    """,
    family="aggregates",
    scale_notes="single-pass central-moment agg in Spark; oracle uses explicit two-pass central moments because DuckDB's skewness/kurtosis are sample-adjusted while Spark's are population g1/g2",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments per group — flexcalc analyze.py::moment2 /
    ::moments_orientation (R21) as relational aggregates."""
    li = table(spark, sf_dir, "lineitem")
    # "+ 0.0" normalizes IEEE -0.0 to +0.0 after rounding (near-zero
    # statistics can round to -0.0 on one engine and +0.0 on the other).
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        (F.round(F.skewness("l_quantity"), 4) + 0.0).alias("skew_qty"),
        (F.round(F.kurtosis("l_quantity"), 4) + 0.0).alias("kurt_qty"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + 0.0).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4) + 0.0).alias("cov_qty_price"),
    )


@register(
    "q_agg_percentile",
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
               ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90,
               ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
    scale_notes="exact sort-based percentile; approx_percentile is the 100 TB variant",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — flexcalc ::intensity_range (R19)
    picks levels from the value distribution the same way."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("price_p95"),
    )


@register(
    "q_agg_weighted_centroid",
    oracle=f"""
        SELECT l_returnflag,
               ROUND({_osum('l_extendedprice * l_quantity')}
                     / {_osum('l_quantity')}, 4) AS centroid
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
    scale_notes="two integer-grid sums, one shuffle",
)
def q_agg_weighted_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean = flexcalc analyze.py::centre (R20 centre of mass)."""
    li = table(spark, sf_dir, "lineitem")
    wsum = gsum_raw(F.col("l_extendedprice") * F.col("l_quantity")).cast("double") / GRID
    w = gsum_raw("l_quantity").cast("double") / GRID
    return li.groupBy("l_returnflag").agg(F.round(wsum / w, 4).alias("centroid"))


@register(
    "q_histogram",
    oracle="""
        SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
               COUNT(*) AS cnt
        FROM orders
        GROUP BY 1
    """,
    family="aggregates",
    scale_notes="width-bucket groupBy — flexcalc analyze.py::histogram (R18); map-side combine makes this scan-bound",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_agg_collect",
    oracle="""
        SELECT l_returnflag,
               string_agg(l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
        GROUP BY l_returnflag
    """,
    family="aggregates",
    scale_notes="collect over distinct-bounded groups only; unbounded collect_list is an anti-pattern at scale",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list -> sorted array -> join to string (deterministic
    serialization keeps the oracle hash stable)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.array_join(F.sort_array(F.collect_list("l_linestatus")), ",").alias("statuses")
        )
    )


@register(
    "q_agg_minmax_by",
    oracle="""
        SELECT o_custkey,
               arg_max(o_orderkey, o_totalprice) AS top_order,
               arg_min(o_orderkey, o_totalprice) AS bottom_order,
               ROUND(MAX(o_totalprice), 4) AS max_price
        FROM orders
        GROUP BY o_custkey
    """,
    family="aggregates",
    scale_notes="argmax/argmin carry one row of state per group",
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax) — flexcalc's marker detection (R22) is an
    argmax over a response field. o_totalprice is a continuous double, so
    ties (the only nondeterminism) do not occur in the fixtures."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, o_totalprice)").alias("top_order"),
        F.expr("min_by(o_orderkey, o_totalprice)").alias("bottom_order"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
    )


@register(
    "q_rollup",
    oracle=f"""
        SELECT COALESCE(c_mktsegment, 'ALL') AS seg,
               COALESCE(CAST(c_nationkey AS BIGINT), -1) AS nk,
               CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
               CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nk,
               COUNT(*) AS cnt,
               ROUND({_osum('c_acctbal')}, 4) AS sum_bal
        FROM customer
        GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """,
    family="aggregates",
    scale_notes="rollup = single expand + agg; grouping-set expansion is linear in set count",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicators."""
    c = table(spark, sf_dir, "customer")
    return (
        c.rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.grouping("c_mktsegment").cast("bigint").alias("g_seg"),
            F.grouping("c_nationkey").cast("bigint").alias("g_nk"),
            F.count(F.lit(1)).alias("cnt"),
            dsum("c_acctbal", "sum_bal"),
        )
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("seg"),
            F.coalesce(F.col("c_nationkey").cast("bigint"), F.lit(-1)).alias("nk"),
            "g_seg", "g_nk", "cnt", "sum_bal",
        )
    )


@register(
    "q_cube",
    oracle=f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS cnt,
               ROUND({_osum('o_totalprice')}, 4) AS sum_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    family="aggregates",
    scale_notes="cube expands 4 grouping sets pre-shuffle",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice", "sum_price"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "cnt", "sum_price",
        )
    )


_GROUPING_SETS_SQL = """
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           COUNT(*) AS cnt,
           ROUND(CAST(SUM(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT))
                      AS DOUBLE) / 1000000.0, 4) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


register_sql(
    "q_grouping_sets",
    _GROUPING_SETS_SQL,
    family="aggregates",
    scale_notes="explicit grouping sets; same ANSI text runs on both engines",
    doc="""GROUPING SETS via spark.sql over registered temp views — the SQL
    text is engine-portable and doubles as its own oracle.""",
)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_pivot",
    oracle="""
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'click') AS click,
               COUNT(*) FILTER (WHERE event_type = 'error') AS error,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
               COUNT(*) FILTER (WHERE event_type = 'view') AS view
        FROM events
        GROUP BY user_id
    """,
    family="aggregates",
    scale_notes="pivot with explicit value list = single agg pass, no value-discovery job",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type to columns. Explicit value list (skips Spark's
    extra distinct-values job); missing cells coalesced to 0 to match
    COUNT FILTER semantics."""
    e = table(spark, sf_dir, "events")
    piv = e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


_UNPIVOT_METRICS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "q_unpivot",
    oracle=" UNION ALL ".join(
        f"SELECT l_orderkey, l_linenumber, '{m}' AS metric, {m} AS val"
        " FROM lineitem"
        for m in _UNPIVOT_METRICS
    ),
    family="aggregates",
    scale_notes="unpivot (wide->long melt, the pivot inverse) is a narrow per-row expansion — rows multiply by the metric count but no shuffle, no state; the oracle is the portable UNION ALL formulation so no dialect drift",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt four lineitem measures into (metric, val) long form via the
    native unpivot operator; values emitted as raw doubles
    (bit-identical, registry determinism rules)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *_UNPIVOT_METRICS
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"], _UNPIVOT_METRICS, "metric", "val"
    )


@register(
    "q_agg_regression",
    oracle="""
        SELECT event_type,
               CAST(regr_count(value, epoch_us(ts) / 86400000000.0)
                    AS BIGINT) AS n,
               ROUND(regr_slope(value, epoch_us(ts) / 86400000000.0), 4)
                   + 0.0 AS slope,
               ROUND(regr_intercept(value, epoch_us(ts) / 86400000000.0), 4)
                   + 0.0 AS intercept,
               ROUND(regr_r2(value, epoch_us(ts) / 86400000000.0), 4)
                   + 0.0 AS r2
        FROM events
        GROUP BY event_type
    """,
    family="aggregates",
    scale_notes=(
        "built-in linear-regression aggregates (regr_slope/intercept/"
        "r2/count): JVM codegen'd one-pass moment accumulation with "
        "map-side partial merge — the fast-path twin of the pandas-UDAF "
        "OLS (q_udaf_grouped); shuffle is one narrow moment-struct per "
        "(event_type, partition). Time axis is exact integer µs scaled "
        "to days; outputs rounded as aggregate FP per registry rules"
    ),
)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS fit of value over time in days, via Spark's
    native regr_* aggregates (SQL-standard, matches DuckDB's)."""
    from flexcalc_spark.tables import events_with_time

    e = events_with_time(spark, sf_dir)
    x = (F.col("ts_us") / F.lit(86400000000.0)).alias("x")
    y = F.col("value")
    return (
        e.select("event_type", x, y)
        .groupBy("event_type")
        .agg(
            F.regr_count(y, F.col("x")).cast("bigint").alias("n"),
            (F.round(F.regr_slope(y, F.col("x")), 4) + 0.0).alias("slope"),
            (F.round(F.regr_intercept(y, F.col("x")), 4) + 0.0).alias("intercept"),
            (F.round(F.regr_r2(y, F.col("x")), 4) + 0.0).alias("r2"),
        )
    )


@register(
    "q_agg_skew_distinct",
    oracle=f"""
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND({_osum('l_quantity')}, 4) AS sum_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
    scale_notes=(
        "explicit two-phase distinct for SKEWED group keys (3 hot "
        "returnflag values would each land on one reducer in a naive "
        "plan): phase 1 groups by the COMPOSITE (flag, suppkey) key — "
        "the distinct key spreads each hot group across every "
        "partition — phase 2 re-groups the already-collapsed rows by "
        "flag to count distincts and merge the grid sums. The shuffle "
        "carries |flag x supp| collapsed rows, and no single reducer "
        "ever sees a whole hot group's raw rows: salting where the "
        "salt is the distinct key itself"
    ),
)
def q_agg_skew_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-supplier count + row count + grid sum per
    (skewed) returnflag via an explicit composite-key two-phase plan."""
    from flexcalc_spark.tables import table_parallel

    l = table_parallel(spark, sf_dir, "lineitem")
    phase1 = l.groupBy("l_returnflag", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        gsum_raw("l_quantity").alias("qg"),
    )
    return phase1.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_supp"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.round(F.sum("qg").cast("double") / GRID, 4).alias("sum_qty"),
    )


EQUIDEPTH_BUCKETS = 10

# Exact tier decile boundaries as EXACT RATIONALS over integer order
# statistics (the q_rfm r13 pattern): l_extendedprice has exactly 2
# decimals, so cents = floor(price*100 + 0.5) is an exact BIGINT; the
# interpolated boundary at p = i*(n-1)/10 is a + (m/10)*(b - a) with
# a, b the adjacent order statistics and m = (i*(n-1)) % 10, and the
# strict compare boundary < v becomes 10*a + m*(b-a) < 10*cents — all
# BIGINT, so no FP interpolation ulp can flip a bucket edge under
# fixture regen (the q_histogram_equidepth line of the r13 lesson).
_EQD_BOUND_EXPRS_SQL = ", ".join(
    f"MAX(CASE WHEN rn = ({i}*(n-1))//{EQUIDEPTH_BUCKETS} + 1 THEN "
    f"{EQUIDEPTH_BUCKETS}*c + (({i}*(n-1))%{EQUIDEPTH_BUCKETS})"
    f"*(COALESCE(cn, c) - c) END)"
    for i in range(1, EQUIDEPTH_BUCKETS)
)


@register(
    "q_histogram_equidepth",
    oracle=f"""
        WITH c AS MATERIALIZED (
            SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS c,
                   l_extendedprice
            FROM lineitem WHERE l_extendedprice IS NOT NULL
        ),
        nn AS (SELECT COUNT(*) AS n FROM c),
        r AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn,
                   LEAD(c) OVER (ORDER BY c) AS cn
            FROM c
        ),
        b AS (
            SELECT [{_EQD_BOUND_EXPRS_SQL}] AS bs
            FROM r, nn GROUP BY n
        ),
        tagged AS (
            SELECT CAST(len(list_filter(b.bs,
                            q -> q < {EQUIDEPTH_BUCKETS} * c.c))
                        AS BIGINT) AS bucket,
                   l_extendedprice
            FROM c, b
        )
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
               MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        FROM tagged GROUP BY bucket
    """,
    family="aggregates",
    scale_notes=(
        "equi-depth histogram WITHOUT a global sort window in the "
        "shipped path: bucket assignment is a scan-side count-of-"
        "boundaries-below compare against 9 broadcast boundary values "
        "— the plan an ntile() formulation would serialize into a "
        "single-task global sort. The exact tier computes its decile "
        "boundaries as exact rationals over integer CENT order "
        "statistics (10*a + m*(b-a), all BIGINT — no FP interpolation "
        "ulp can flip a bucket edge cross-engine, r13/r14); its rank "
        "window is a global single-partition sort, the documented "
        "non-scaling piece of this tier only. The 100 TB boundary "
        "source is q_histogram_equidepth_approx (approx_percentile — "
        "mergeable sketch, same downstream plan)"
    ),
)
def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equi-depth histogram of l_extendedprice: exact decile
    boundaries (one agg) broadcast onto a scan-side bucket tagging."""
    return _equidepth(spark, sf_dir, approx=False)


# accuracy = 1/eps for the mergeable quantile sketch: rank error <=
# n * 1e-4 — boundaries within a handful of rows of exact at bench
# scale, while the aggregation state stays fixed-size.
EQUIDEPTH_ACCURACY = 10_000


def _equidepth(
    spark: SparkSession, sf_dir: str, approx: bool
) -> DataFrame:
    """Shared equi-depth plan with a parameterized boundary source.

    approx=False: exact decile boundaries from integer CENT order
    statistics via one rank window (row_number + lead over a global
    sort — single-partition, the documented non-scaling piece of the
    exact tier; r13/r14), emitted as exact-rational BIGINT compare
    keys 10*a + m*(b-a) so no FP interpolation ulp can flip a bucket
    edge cross-engine.
    approx=True: ``approx_percentile`` — a mergeable quantile sketch
    with map-side partial aggregation and fixed-size state; the 100 TB
    path. Downstream (broadcast boundaries -> scan-side tag -> group)
    has the same shape in both tiers."""
    from flexcalc_spark.tables import table_parallel

    l = table_parallel(spark, sf_dir, "lineitem")
    if approx:
        pcts = ", ".join(
            str(i / EQUIDEPTH_BUCKETS) for i in range(1, EQUIDEPTH_BUCKETS)
        )
        b = l.agg(
            F.expr(
                f"approx_percentile(l_extendedprice, array({pcts}),"
                f" {EQUIDEPTH_ACCURACY})"
            ).alias("qs")
        )
        tagged = l.crossJoin(F.broadcast(b)).select(
            F.expr(
                "CAST(size(filter(qs, q -> q < l_extendedprice))"
                " AS BIGINT)"
            ).alias("bucket"),
            "l_extendedprice",
        )
    else:
        nb = EQUIDEPTH_BUCKETS
        c = l.where(F.col("l_extendedprice").isNotNull()).select(
            F.expr(
                "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("c"),
            "l_extendedprice",
        )
        from pyspark.sql.window import Window

        nn = c.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        w = Window.orderBy("c")
        ranked = (
            c.select("c")
            .select(
                "c",
                F.row_number().over(w).alias("rn"),
                F.lead("c", 1).over(w).alias("cn"),
            )
            .crossJoin(F.broadcast(nn))
        )
        # one conditional-agg pass extracts all 9 boundary pairs; the
        # rationals are nondecreasing in i (quantiles are monotone),
        # so array(b1..b9) is already sorted for the filter below
        b = ranked.agg(
            *[
                F.max(
                    F.when(
                        F.expr(f"rn = ({i}*(n-1)) div {nb} + 1"),
                        F.expr(
                            f"{nb}*c + (({i}*(n-1)) % {nb})"
                            f" * (coalesce(cn, c) - c)"
                        ),
                    )
                ).alias(f"b{i}")
                for i in range(1, nb)
            ]
        ).select(
            F.expr(
                "array(" + ", ".join(f"b{i}" for i in range(1, nb)) + ")"
            ).alias("bs")
        )
        tagged = c.crossJoin(F.broadcast(b)).select(
            F.expr(
                f"CAST(size(filter(bs, q -> q < {nb} * c)) AS BIGINT)"
            ).alias("bucket"),
            "l_extendedprice",
        )
    return tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


@register(
    "q_histogram_equidepth_approx",
    oracle=None,  # sketch boundaries have no ANSI twin (rows-only);
    # bucket-population equivalence vs the exact tier is asserted in
    # tests/test_properties.py, and the plan's freedom from the exact
    # single-reduce percentile in tests/test_plans.py
    family="aggregates",
    scale_notes=(
        "the 100 TB equi-depth path: boundaries from approx_percentile "
        "— a MERGEABLE quantile sketch (map-side partials, fixed-size "
        "state) instead of exact percentile's buffer-every-value final "
        "aggregate. Same broadcast + scan-side tagging downstream as "
        "the exact tier; rank error bounded by n/accuracy. This is the "
        "code path q_histogram_equidepth's scale_notes always promised"
    ),
)
def q_histogram_equidepth_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-depth histogram with sketch-based (mergeable, fixed-state)
    decile boundaries — the at-scale variant of q_histogram_equidepth."""
    return _equidepth(spark, sf_dir, approx=True)


# --- q_corr_matrix -------------------------------------------------------
# Per-column integer grids sized so every squared/cross sum stays inside
# BIGINT at sf0.1 and beyond (qty<=50 -> 1e-2 grid; price ~1e5 -> unit
# grid; discount <=0.1 -> 1e-4 grid). Exact integer moments make the
# final double-math correlation bit-identical across engines.
_CORR_GRIDS = {"l_quantity": 100, "l_extendedprice": 1, "l_discount": 10000}
_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
]
# identical literal structure on both engines; inputs are exact BIGINTs
_CORR_EXPR = (
    "CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) <= 0.0"
    " OR (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) <= 0.0"
    " THEN CAST(0 AS BIGINT)"
    " ELSE CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
    " * 10000.0) AS BIGINT) END"
)


def _corr_oracle() -> str:
    g = {
        c: f"CAST(floor(l_{{}}.{c} * {w}.0 + 0.5) AS BIGINT)".replace(
            "l_{}.", ""
        )
        for c, w in _CORR_GRIDS.items()
    }
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in _CORR_GRIDS:
        a = c.split("_", 1)[1][:4]
        sums.append(f"CAST(SUM({g[c]}) AS BIGINT) AS s_{a}")
        sums.append(f"CAST(SUM({g[c]} * {g[c]}) AS BIGINT) AS s_{a}{a}")
    for x, y in _CORR_PAIRS:
        ax, ay = x.split("_", 1)[1][:4], y.split("_", 1)[1][:4]
        sums.append(f"CAST(SUM({g[x]} * {g[y]}) AS BIGINT) AS s_{ax}{ay}")
    selects = []
    for x, y in _CORR_PAIRS:
        ax, ay = x.split("_", 1)[1][:4], y.split("_", 1)[1][:4]
        expr = (
            _CORR_EXPR.replace("sxx", f"s_{ax}{ax}")
            .replace("syy", f"s_{ay}{ay}")
            .replace("sxy", f"s_{ax}{ay}")
            .replace("sx", f"s_{ax}")
            .replace("sy", f"s_{ay}")
        )
        selects.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, n, {expr} AS corr_q"
            " FROM m"
        )
    return (
        "WITH m AS (SELECT " + ", ".join(sums) + " FROM lineitem) "
        + " UNION ALL ".join(selects)
    )


@register(
    "q_corr_matrix",
    oracle=_corr_oracle(),
    family="aggregates",
    scale_notes=(
        "pairwise Pearson correlation of 3 measures in ONE scan: all 10 "
        "moment sums (n, per-column sums/squares, cross products) ride "
        "per-column integer grids sized so every BIGINT sum is exact at "
        "scale, accumulate map-side, and shuffle as a single 10-cell "
        "row per partition; the correlation formula then runs on the "
        "one-row aggregate in double math that is bit-identical across "
        "engines because its inputs are exact integers. Feature-stores "
        "use this shape for drift/leakage checks across hundreds of "
        "column pairs — still one scan, the moment count grows "
        "quadratically but each is one counter. Degenerate (zero "
        "variance) pairs clamp to 0 identically on both engines. At "
        "larger row counts swap BIGINT for DECIMAL(38,0) accumulators "
        "before the grid products can overflow"
    ),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix of (quantity, price, discount) from
    exact integer-grid moments — (col_x, col_y, n, corr_q)."""
    li = table(spark, sf_dir, "lineitem")
    g = {
        c: F.floor(F.col(c) * float(w) + 0.5).cast("bigint")
        for c, w in _CORR_GRIDS.items()
    }
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in _CORR_GRIDS:
        a = c.split("_", 1)[1][:4]
        aggs.append(F.sum(g[c]).cast("bigint").alias(f"s_{a}"))
        aggs.append(F.sum(g[c] * g[c]).cast("bigint").alias(f"s_{a}{a}"))
    for x, y in _CORR_PAIRS:
        ax, ay = x.split("_", 1)[1][:4], y.split("_", 1)[1][:4]
        aggs.append(F.sum(g[x] * g[y]).cast("bigint").alias(f"s_{ax}{ay}"))
    m = li.agg(*aggs)
    # one select + stack so all three pairs share the single aggregate
    # subtree (a union of selects would re-run the scan per branch)
    cols, stack_parts = [], []
    for i, (x, y) in enumerate(_CORR_PAIRS):
        ax, ay = x.split("_", 1)[1][:4], y.split("_", 1)[1][:4]
        expr = (
            _CORR_EXPR.replace("sxx", f"s_{ax}{ax}")
            .replace("syy", f"s_{ay}{ay}")
            .replace("sxy", f"s_{ax}{ay}")
            .replace("sx", f"s_{ax}")
            .replace("sy", f"s_{ay}")
        )
        cols.append(F.expr(expr).alias(f"c{i}"))
        stack_parts.append(f"'{x}', '{y}', n, c{i}")
    row = m.select("n", *cols)
    return row.selectExpr(
        f"stack({len(_CORR_PAIRS)}, {', '.join(stack_parts)})"
        " AS (col_x, col_y, n, corr_q)"
    )


@register(
    "q_percentile_select",
    oracle="""
        WITH s AS (
            SELECT l_extendedprice AS v,
                   ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
            FROM lineitem
        ),
        t AS (SELECT COUNT(*) AS n FROM lineitem)
        SELECT CAST(t.n AS BIGINT) AS n,
               (a.v + b.v) / 2.0 AS median
        FROM t,
             (SELECT v FROM s, t WHERE rn = (n + 1) // 2) a,
             (SELECT v FROM s, t WHERE rn = (n + 2) // 2) b
    """,
    family="aggregates",
    scale_notes=(
        "distributed EXACT median via two-phase selection — the third "
        "tier beside exact-sort (q_agg_percentile, serializing oracle "
        "twin) and sketch (q_agg_approx_percentile): phase 1 histograms "
        "rows into integer-dollar buckets (cardinality bounded by the "
        "PRICE DOMAIN, not row count — the cumulative window runs over "
        "that tiny aggregated table), phase 2 ranks ONLY the 1-2 "
        "buckets containing the target order statistics (a ~n/|domain| "
        "slice, bucket-partitioned window). No full-data global sort "
        "anywhere; the oracle's serializing ROW_NUMBER certifies the "
        "decomposition picks the identical order stats. Recurse the "
        "same split for heavily-skewed buckets"
    ),
)
def q_percentile_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact median of l_extendedprice by distributed selection:
    domain-bucket histogram -> locate target order stats -> rank only
    the covering bucket slice."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.floor("l_extendedprice").cast("bigint").alias("bucket"),
    )
    hist = li.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hist = hist.withColumn("cum", F.sum("cnt").over(wb)).withColumn(
        "prev", F.col("cum") - F.col("cnt")
    )
    tot = li.agg(F.count(F.lit(1)).alias("n"))
    ks = tot.select(
        "n",
        F.explode(
            F.array(F.expr("(n + 1) div 2"), F.expr("(n + 2) div 2"))
        ).alias("k"),
    )
    cand = hist.join(
        F.broadcast(ks),
        (F.col("prev") < F.col("k")) & (F.col("k") <= F.col("cum")),
    ).select("k", "bucket", "prev")
    slice_df = li.join(
        F.broadcast(cand.select("bucket").distinct()), "bucket"
    )
    wv = Window.partitionBy("bucket").orderBy("v")
    ranked = slice_df.withColumn("rn", F.row_number().over(wv))
    stats = ranked.join(
        F.broadcast(cand.withColumnRenamed("bucket", "cbucket")),
        (F.col("bucket") == F.col("cbucket"))
        & (F.col("rn") == F.col("k") - F.col("prev")),
    ).select("v")
    return (
        stats.agg((F.sum("v") / 2.0).alias("median"))
        .crossJoin(F.broadcast(tot))
        .select(F.col("n").cast("bigint").alias("n"), "median")
    )


ALLOC_BUDGET = 1_000_000  # units to distribute exactly


@register(
    "q_allocate",
    oracle=f"""
        WITH rev AS (
            SELECT n_name,
                   CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS r
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        ),
        t AS (SELECT CAST(SUM(r) AS BIGINT) AS total,
                     CAST(COUNT(*) AS BIGINT) AS g FROM rev),
        -- HUGEINT (128-bit), not DECIMAL: DuckDB's // on DECIMAL
        -- operands silently returns DOUBLE (floor of a double-rounded
        -- quotient can be off by one); HUGEINT // is exact integer
        -- division, matching Spark's DECIMAL(38,0) div semantics.
        base AS (
            SELECT n_name, r,
                   CAST((CAST({ALLOC_BUDGET} AS HUGEINT) * r) // total
                        AS BIGINT) AS fl,
                   CAST((CAST({ALLOC_BUDGET} AS HUGEINT) * r) % total
                        AS BIGINT) AS rem
            FROM rev, t
        ),
        short AS (
            SELECT {ALLOC_BUDGET} - CAST(SUM(fl) AS BIGINT) AS k FROM base
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rk
            FROM base
        )
        SELECT n_name,
               CAST(fl + CASE WHEN rk <= (SELECT k FROM short)
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM ranked
    """,
    family="aggregates",
    scale_notes=(
        "proportional allocation with largest-remainder (Hamilton) "
        "rounding — the billing/attribution primitive that must sum "
        "EXACTLY to the budget: floor shares and remainders are pure "
        "integer arithmetic on the grid revenue sums, the shortfall is "
        "one scalar, and the +1 winners rank by (remainder, name) "
        "total order. Everything after the one revenue aggregate "
        "operates on |groups| rows — allocation over a billion-row "
        "fact costs the fact aggregate plus KB-scale integer math, "
        "and the result is bit-identical on any engine because no "
        "division ever produces a float. The share product "
        "budget x total_cents runs through DECIMAL(38,0) (BIGINT would "
        "wrap silently past ~sf0.6 at this budget — ADVICE r5); the "
        "quotient/remainder are back under 2^63 by construction and "
        "ride BIGINT. Only the |groups|-row tail pays decimal cost — "
        "the fact aggregate stays integer. Property-tested past the "
        "old overflow bound (tests/test_properties.py)"
    ),
)
def q_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribute a 1M-unit budget across nations proportional to
    order revenue, largest-remainder rounding (sums exactly to the
    budget)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("r")
        )
    )
    return allocate_budget(rev, ALLOC_BUDGET)


def allocate_budget(rev: DataFrame, budget: int) -> DataFrame:
    """Hamilton (largest-remainder) allocation tail over a
    ``(n_name string, r bigint)`` weight table — the code path
    q_allocate runs after its revenue aggregate, exposed so the
    overflow property test exercises the REAL expressions on synthetic
    weights past the old BIGINT bound (tests/test_properties.py).

    The share product budget x r rides DECIMAL(38,0) (a BIGINT product
    wraps silently once budget x total crosses 2^63 — ADVICE r5); the
    quotient/remainder are < budget / < total, so they return to
    BIGINT immediately and the window/rank tail stays integer."""
    from pyspark.sql.window import Window

    t = rev.agg(
        F.sum("r").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
    )
    base = rev.crossJoin(F.broadcast(t)).select(
        "n_name",
        "r",
        F.expr(
            f"CAST((CAST({budget} AS DECIMAL(38,0)) * r) div total"
            " AS BIGINT)"
        ).alias("fl"),
        F.expr(
            f"CAST((CAST({budget} AS DECIMAL(38,0)) * r) % total"
            " AS BIGINT)"
        ).alias("rem"),
    )
    short = base.agg(
        (F.lit(budget) - F.sum("fl")).cast("bigint").alias("k")
    )
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("n_name"))
        ),
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "n_name",
        (
            F.col("fl")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


@register(
    "q_mad_outliers",
    oracle="""
        -- exact tier, all-integer (r14, the q_rfm r13 pattern):
        -- events.value has exactly 6 decimals, so vi = floor(v*1e6+0.5)
        -- is an exact BIGINT. The per-type median is the exact rational
        -- (lo + hi)/2 over order statistics (lo = rank (n-1)//2 + 1,
        -- hi = rank n//2 + 1), carried DOUBLED as med2 = lo + hi;
        -- deviations ad2 = |2*vi - med2| stay exact BIGINTs, the MAD
        -- rides the same construction doubled again (mad4), and the
        -- flag ad > 3*mad becomes 2*ad2 > 3*mad4 — no FP interpolation
        -- anywhere near a comparison. Emitted med/mad divide the exact
        -- integers by the same literal on both engines (bit-identical).
        WITH e AS MATERIALIZED (
            SELECT event_type,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vi
            FROM events WHERE value IS NOT NULL
        ),
        cnt AS MATERIALIZED (SELECT event_type, COUNT(*) AS n
                             FROM e GROUP BY event_type),
        r1 AS (
            SELECT event_type, vi,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY vi) AS rn
            FROM e
        ),
        med AS MATERIALIZED (
            SELECT r1.event_type,
                   MAX(CASE WHEN rn = (n-1)//2 + 1 THEN vi END)
                 + MAX(CASE WHEN rn = n//2 + 1 THEN vi END) AS med2
            FROM r1 JOIN cnt USING (event_type)
            GROUP BY r1.event_type
        ),
        dev AS MATERIALIZED (
            SELECT e.event_type, abs(2*e.vi - med.med2) AS ad2, med.med2
            FROM e JOIN med USING (event_type)
        ),
        r2 AS (
            SELECT event_type, ad2,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ad2) AS rn
            FROM dev
        ),
        mad AS (
            SELECT r2.event_type,
                   MAX(CASE WHEN rn = (n-1)//2 + 1 THEN ad2 END)
                 + MAX(CASE WHEN rn = n//2 + 1 THEN ad2 END) AS mad4
            FROM r2 JOIN cnt USING (event_type)
            GROUP BY r2.event_type
        )
        SELECT d.event_type,
               CAST(d.med2 AS DOUBLE) / 2000000.0 AS med,
               CAST(mad.mad4 AS DOUBLE) / 4000000.0 AS mad,
               CAST(SUM(CASE WHEN 2*d.ad2 > 3*mad.mad4
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad USING (event_type)
        GROUP BY d.event_type, d.med2, mad.mad4
    """,
    family="aggregates",
    scale_notes=(
        "median-absolute-deviation outlier gate — the robust sibling "
        "of q_anomaly_zscore (immune to the outliers it hunts, unlike "
        "mean/std). The exact tier computes both medians as exact "
        "rationals over integer 1e-6-grid order statistics (values "
        "have exactly 6 decimals, so the grid is lossless) and flags "
        "with the all-BIGINT compare 2*ad2 > 3*mad4 — no FP "
        "interpolation ulp can flip an outlier cross-engine (r13/r14); "
        "its per-type rank windows sort within type partitions, the "
        "documented non-scaling piece of this tier only. The 100 TB "
        "boundary source is q_mad_outliers_approx (mergeable "
        "approx_percentile sketch, same downstream plan — the "
        "q_histogram_equidepth/_approx split)"
    ),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outlier census: median, MAD, and count of
    events with |value - median| > 3 * MAD. Exact-median tier (the
    oracle twin); q_mad_outliers_approx is the at-scale variant."""
    return _mad_outliers(spark, sf_dir, approx=False)


# rank error <= n * 1e-4 for the median estimates while the aggregation
# state stays fixed-size and mergeable (same constant as equi-depth).
MAD_ACCURACY = 10_000


def _mad_outliers(
    spark: SparkSession, sf_dir: str, approx: bool
) -> DataFrame:
    """Shared MAD-outlier plan with a parameterized median source.

    approx=False: exact per-type medians as exact rationals over
    integer 1e-6-grid order statistics (per-type rank windows; the
    values have exactly 6 decimals so the grid is lossless), carried
    doubled (med2/mad4) so the flag is the all-BIGINT compare
    2*ad2 > 3*mad4 — no FP interpolation near a comparison (r14, the
    q_rfm r13 pattern). The rank windows sort within type partitions,
    the documented non-scaling piece of this tier.
    approx=True: ``approx_percentile`` — mergeable sketch, map-side
    partials, fixed-size state; the 100 TB path. The downstream shape
    (broadcast medians -> scan-side deviation -> broadcast MADs ->
    scan-side flag + count) is the same in both tiers."""
    e = table(spark, sf_dir, "events")
    if approx:
        med_expr = f"approx_percentile(value, 0.5, {MAD_ACCURACY})"
        mad_expr = f"approx_percentile(ad, 0.5, {MAD_ACCURACY})"
        med = e.groupBy("event_type").agg(
            F.expr(med_expr).cast("double").alias("med")
        )
        dev = e.join(F.broadcast(med), "event_type").select(
            "event_type",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("ad"),
        )
        mad = dev.groupBy("event_type", "med").agg(
            F.expr(mad_expr).cast("double").alias("mad")
        )
        return (
            dev.join(
                F.broadcast(mad.select("event_type", "mad")), "event_type"
            )
            .groupBy("event_type", "med", "mad")
            .agg(
                F.sum(
                    F.when(F.col("ad") > 3.0 * F.col("mad"), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_outliers")
            )
            .select("event_type", "med", "mad", "n_outliers")
        )
    from pyspark.sql.window import Window

    ei = e.where(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").alias(
            "vi"
        ),
    )
    cnt = ei.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    lo_rk = "(n-1) div 2 + 1"
    hi_rk = "n div 2 + 1"
    r1 = ei.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("vi")
        ),
    ).join(F.broadcast(cnt), "event_type")
    med = r1.groupBy("event_type").agg(
        (
            F.max(F.when(F.expr(f"rn = {lo_rk}"), F.col("vi")))
            + F.max(F.when(F.expr(f"rn = {hi_rk}"), F.col("vi")))
        )
        .cast("bigint")
        .alias("med2")
    )
    dev = ei.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med2",
        F.abs(2 * F.col("vi") - F.col("med2")).alias("ad2"),
    )
    r2 = dev.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("ad2")
        ),
    ).join(F.broadcast(cnt), "event_type")
    mad = r2.groupBy("event_type").agg(
        (
            F.max(F.when(F.expr(f"rn = {lo_rk}"), F.col("ad2")))
            + F.max(F.when(F.expr(f"rn = {hi_rk}"), F.col("ad2")))
        )
        .cast("bigint")
        .alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.sum(
                F.when(
                    2 * F.col("ad2") > 3 * F.col("mad4"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            (F.col("med2").cast("double") / 2000000.0).alias("med"),
            (F.col("mad4").cast("double") / 4000000.0).alias("mad"),
            "n_outliers",
        )
    )


@register(
    "q_mad_outliers_approx",
    oracle=None,  # sketch medians have no ANSI twin (rows-only);
    # flag-census equivalence vs the exact tier is asserted in
    # tests/test_properties.py, and the plan's freedom from the exact
    # single-reduce percentile in tests/test_plans.py
    family="aggregates",
    scale_notes=(
        "the 100 TB MAD path: both medians from approx_percentile — a "
        "MERGEABLE quantile sketch (map-side partials, fixed-size "
        "state) instead of exact percentile's buffer-every-value final "
        "aggregate (n/|types| doubles per reduce buffer on a "
        "billion-row type). Same broadcast + scan-side flagging "
        "downstream as the exact tier; median rank error bounded by "
        "n/accuracy, and the 3*MAD gate is insensitive to "
        "handful-of-rank median jitter (asserted by the equivalence "
        "test). This is the code path q_mad_outliers' scale_notes "
        "always promised"
    ),
)
def q_mad_outliers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD outlier census with sketch-based (mergeable, fixed-state)
    medians — the at-scale variant of q_mad_outliers."""
    return _mad_outliers(spark, sf_dir, approx=True)


@register(
    "q_agg_weighted_median",
    oracle="""
        -- exact WEIGHTED median (quantity-weighted unit price per
        -- return flag): sort each group by price, running quantity
        -- sum, the weighted median is the first price where
        -- 2 * cumw >= total weight. All-integer compare (quantity on
        -- the 1e2 grid, price on the cent grid); the selected PRICE is
        -- invariant to within-tie ordering because the crossing lands
        -- inside the tie block, so no tiebreak hazard reaches the
        -- output.
        WITH g AS MATERIALIZED (
            SELECT l_returnflag AS flag,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS cents,
                   CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS w
            FROM lineitem
        ),
        cum AS (
            SELECT flag, cents, w,
                   SUM(w) OVER (PARTITION BY flag ORDER BY cents
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cw,
                   SUM(w) OVER (PARTITION BY flag) AS tw
            FROM g
        )
        SELECT flag, CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
               CAST(MIN(tw) AS BIGINT) AS total_w
        FROM cum WHERE 2 * cw >= tw GROUP BY flag
    """,
    family="aggregates",
    scale_notes=(
        "exact weighted median (weighted order statistic — the "
        "unweighted q_agg_percentile's sibling for survey-weighted / "
        "quantity-weighted metrics): one window sort per group + a "
        "running weight sum, crossing picked by integer "
        "cross-multiplication (2*cumw >= totw — no FP quantile "
        "interpolation to diverge). The output price is invariant to "
        "within-tie row order, so partitioning cannot move it. Same "
        "one-sort-per-group cost as any ranked window; at 100 TB the "
        "two-pass approx_percentile-with-weights rewrite (bucket by "
        "price range, exact inside the crossing bucket) bounds the "
        "sort, the same escalation path q_percentile_select documents"
    ),
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag:
    (flag, wmedian_cents, total_w) — first price where the running
    quantity sum reaches half the group total."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("w"),
    )
    wcum = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("flag")
    cum = li.select(
        "flag",
        "cents",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("cents").cast("bigint").alias("wmedian_cents"),
            F.min("tw").cast("bigint").alias("total_w"),
        )
    )
