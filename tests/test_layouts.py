"""Storage-layout tests — the 100 TB layout decisions demonstrated and
plan-asserted at fixture scale (SCALE.md "Scans"/"Joins"):

- bucketing both sides of a repeated join on the key removes the
  shuffle entirely (co-located join);
- a date-partitioned events layout turns a time filter into partition
  pruning (files never opened).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from flexcalc_spark.plans import plan_text
from flexcalc_spark.tables import epoch_us_col, table
from tests.conftest import SF_DIR


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """orders ⋈ customer bucketed on the join key: zero Exchange nodes."""
    # (warehouse dir is a static conf — bucketed tables land in the
    # session default spark-warehouse/, dropped in finally)
    orders = table(spark, SF_DIR, "orders")
    customer = table(spark, SF_DIR, "customer")
    (orders.write.mode("overwrite").bucketBy(4, "o_custkey")
        .sortBy("o_custkey").saveAsTable("orders_b"))
    (customer.write.mode("overwrite").bucketBy(4, "c_custkey")
        .sortBy("c_custkey").saveAsTable("customer_b"))
    try:
        # disable auto-broadcast so the join strategy depends on layout
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob, cb = spark.table("orders_b"), spark.table("customer_b")
        j = ob.join(cb, ob.o_custkey == cb.c_custkey).select(
            "o_orderkey", "c_custkey", "o_totalprice"
        )
        plan = plan_text(j)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert j.count() == table(spark, SF_DIR, "orders").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_partitioned_events_prunes(spark, tmp_path):
    """events partitioned by day: a day filter prunes partitions at plan
    time (the 100 TB layout for the events table, SCALE.md)."""
    out = str(tmp_path / "events_by_day")
    raw = table(spark, SF_DIR, "events")
    e = raw.withColumn(
        "day", (epoch_us_col(raw) / F.lit(86_400_000_000)).cast("bigint")
    )
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    part = spark.read.parquet(out)
    days = [r.day for r in part.select("day").distinct().collect()]
    target = sorted(days)[0]
    q = part.filter(F.col("day") == target)
    plan = plan_text(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan
    # pruned scan reads exactly the one partition's rows
    expected = part.filter(F.col("day") == target).count()
    full = part.count()
    assert 0 < expected < full


def test_csv_sink_round_trip_preserves_values(spark):
    """q_sink_csv: the csv write->read round-trip must reproduce the
    exact per-source document counts and text lengths of the source
    parquet (quoting/escaping fidelity, not just row counts)."""
    from flexcalc_spark import registry
    from flexcalc_spark.tables import table

    got = {
        r.source: (r.n_docs, r.total_text_chars)
        for r in registry.QUERIES["q_sink_csv"](spark, SF_DIR).collect()
    }
    import pyspark.sql.functions as F

    want = {
        r.source: (r.n_docs, r.total_text_chars)
        for r in table(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_text_chars"),
        )
        .collect()
    }
    assert got == want and got


def test_compacted_sink_writes_exactly_four_files(spark):
    """q_sink_compacted: the repartition(4) must bound the layout to 4
    parquet part-files — the small-file-compaction guarantee."""
    import glob as _glob
    import os as _os

    from flexcalc_spark import registry
    from flexcalc_spark.operators.sinks import _scratch_dir

    registry.QUERIES["q_sink_compacted"](spark, SF_DIR).collect()
    out = _scratch_dir("sink_compact", SF_DIR)
    parts = _glob.glob(_os.path.join(out, "part-*.parquet"))
    assert len(parts) == 4, parts


def test_layout_keys_scratch_registered_for_cleanup(spark):
    """q_zorder_layout and q_join_bucketed write their layouts under
    sinks._scratch_dir, so this process's atexit hook removes them and
    the dead-owner sweep reaps what a killed run left; the old
    pid-only names (flexcalc_spark_zorder_<pid>) had no cleanup."""
    import os as _os
    import tempfile as _tempfile

    from flexcalc_spark import registry
    from flexcalc_spark.operators import sinks

    for key in ("q_zorder_layout", "q_join_bucketed"):
        registry.QUERIES[key](spark, SF_DIR).collect()
    # snapshot before the _scratch_dir calls below, which register
    # their own result
    registered = set(sinks._SCRATCH)
    for tag in ("zorder", "buckets"):
        expect = sinks._scratch_dir(tag, SF_DIR)
        assert expect in registered
        assert _os.path.isdir(expect)
        legacy = f"flexcalc_spark_{tag}_{_os.getpid()}"
        assert not _os.path.exists(_os.path.join(_tempfile.gettempdir(), legacy))


def test_scratch_sweep_owner_liveness(tmp_path, monkeypatch):
    """ADVICE r13: stay-lazy source keys re-collected hours later cannot
    refresh mtime (no Python runs at re-collect), so the age-floored
    sweep could reap a LIVE process's >6 h-old layout. The sweep now
    reads the owner pid from the `_p<pid>` name suffix: a live owner's
    dir survives at ANY age; a dead owner's dir is reaped after 60 s; a
    legacy unsuffixed dir keeps the 6 h rule (fails on the pre-fix
    code: the live-owner dir older than 6 h is deleted)."""
    import os as _os
    import tempfile as _tempfile
    import time as _time

    from flexcalc_spark.operators import sinks

    monkeypatch.setattr(_tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sinks.tempfile, "gettempdir",
                        lambda: str(tmp_path))
    old = _time.time() - 7 * 3600          # older than the 6 h floor
    # live owner (our own pid), >6 h old: must SURVIVE
    live = tmp_path / f"flexcalc_spark_swtest_aaaa_p{_os.getpid()}"
    # dead owner: a pid that cannot exist (> pid_max), >60 s old: reaped
    dead = tmp_path / "flexcalc_spark_swtest_bbbb_p999999999"
    # legacy name without pid suffix, >6 h old: reaped by the 6 h rule
    legacy = tmp_path / "flexcalc_spark_swtest_cccc"
    # legacy name, young: kept
    young = tmp_path / "flexcalc_spark_swtest_dddd"
    for d in (live, dead, legacy, young):
        d.mkdir()
    for d in (live, dead, legacy):
        _os.utime(d, (old, old))
    got = sinks._scratch_dir("swtest", str(tmp_path), fingerprint="x")
    try:
        assert live.exists(), "live owner's layout must never be reaped"
        assert not dead.exists(), "dead owner's layout must be reaped"
        assert not legacy.exists(), "legacy >6h layout must be reaped"
        assert young.exists(), "young legacy layout must be kept"
        assert got.endswith(f"_p{_os.getpid()}")
    finally:
        sinks._SCRATCH.discard(got)


def test_scoped_shuffle_partitions_restores_on_error(spark):
    """The iterative-loop conf scope must restore the caller's shuffle
    partition count even when the body raises."""
    from flexcalc_spark.tables import scoped_shuffle_partitions

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with scoped_shuffle_partitions(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                spark.sparkContext.defaultParallelism
            )
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == orig


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_materialize_local_is_an_arrow_local_scan(spark, arrow):
    """materialize_local must rebuild its input as a LocalTableScan of
    one Arrow table, not a pickled-row RDD scan (ExistingRDD) whose
    every execution runs Python-worker tasks (fails on the
    createDataFrame(df.collect()) form). Values and types round-trip
    exactly under both Arrow settings and a non-UTC session zone,
    including NULLs, a DST-gap wall-clock TIMESTAMP and TIMESTAMP_NTZ."""
    from flexcalc_spark.tables import materialize_local

    keys = (
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.session.timeZone",
    )
    orig = [spark.conf.get(k) for k in keys]
    try:
        spark.conf.set(keys[0], arrow)
        spark.conf.set(keys[1], "America/New_York")
        df = spark.sql("""
            SELECT CAST(1234.5 AS DECIMAL(18,6)) AS d,
                   CAST(NULL AS BIGINT) AS nb,
                   TIMESTAMP '2024-03-10 02:30:00' AS ts,
                   TIMESTAMP_NTZ '2024-03-10 02:30:00' AS ntz,
                   X'00ff10' AS b,
                   array(1L, NULL, 3L) AS a,
                   DATE '2024-01-02' AS dt
            UNION ALL
            SELECT NULL, 5L, NULL, NULL, NULL, NULL, NULL
        """)
        out = materialize_local(df)
        plan = plan_text(out)
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan, plan
        assert out.schema == df.schema
        assert sorted(out.collect(), key=str) == sorted(df.collect(), key=str)
    finally:
        for k, v in zip(keys, orig):
            spark.conf.set(k, v)
