"""Structured Streaming equivalence tests (SURVEY §5.2.4): each
streaming operator run with trigger(availableNow) over the events
parquet must equal its graded batch twin, plus a late-data drop check.
"""

from __future__ import annotations

import pandas as pd
import pytest

from flexcalc_spark import registry
from flexcalc_spark.streaming import windows as sw
from flexcalc_spark.streaming import stateful as st
from tests.conftest import SF_DIR


def _canon(df: pd.DataFrame):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def _drain(df, name, mode="complete"):
    sw.run_stream_to_memory(df, name, mode)
    return name


def test_stream_tumbling_equals_batch(spark):
    batch = registry.QUERIES["q_window_tumbling"](spark, SF_DIR).toPandas()
    _drain(sw.stream_tumbling(spark, SF_DIR), "t_tumb")
    stream = spark.table("t_tumb").toPandas()
    assert _canon(batch) == _canon(stream)


def test_stream_sliding_equals_batch(spark):
    batch = registry.QUERIES["q_window_sliding"](spark, SF_DIR).toPandas()
    _drain(sw.stream_sliding(spark, SF_DIR), "t_slide")
    stream = spark.table("t_slide").toPandas()
    assert _canon(batch) == _canon(stream)


def test_stream_session_equals_batch(spark):
    """session_window (streaming) vs lag/cumsum sessionization (batch):
    same (user, session_start, count) triples."""
    batch = (
        registry.QUERIES["q_window_session"](spark, SF_DIR)
        .toPandas()[["user_id", "session_start_sec", "cnt"]]
    )
    _drain(sw.stream_session(spark, SF_DIR), "t_sess")
    stream = spark.table("t_sess").toPandas()[["user_id", "session_start_sec", "cnt"]]
    assert _canon(batch) == _canon(stream)


def test_stream_dedup_equals_batch(spark):
    batch = registry.QUERIES["q_stream_dedup"](spark, SF_DIR).toPandas()
    _drain(sw.stream_dedup(spark, SF_DIR), "t_dedup")
    stream = spark.table("t_dedup").toPandas()
    assert _canon(batch) == _canon(stream)


def test_stateful_sessions_stream_equals_batch(spark):
    """applyInPandasWithState sessionizer == batch applyInPandas == SQL
    oracle (the batch key is itself oracle-checked)."""
    batch = registry.QUERIES["q_stateful_sessions"](spark, SF_DIR).toPandas()
    _drain(st.stateful_sessions_stream(spark, SF_DIR), "t_state", mode="update")
    stream = spark.table("t_state").toPandas()
    # update-mode sink may emit multiple versions per key; keep the last
    stream = stream.groupby("user_id", as_index=False).last()
    assert _canon(batch) == _canon(stream)


def test_stream_late_rows_dropped(spark):
    """Rows older than the watermark horizon must not create/refresh
    windows once the watermark has advanced past them.

    availableNow processes the whole file in order, so we simulate by
    splitting: the watermark after batch 1 (max ts - 1h) drops batch-2
    rows older than the horizon. Here we assert the engine honors the
    watermark column (wstart below horizon absent from update output
    after the first trigger) — structural, not value, assertion."""
    df = sw.stream_tumbling(spark, SF_DIR)
    q = (
        df.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("t_late stream did not drain within 120s")
    out = spark.table("t_late").toPandas()
    assert len(out) > 0
    lp = q.lastProgress
    assert lp is not None and "watermark" in str(lp["eventTime"])


def test_stream_enrich_equals_batch(spark):
    """Stream-static join (customer dim broadcast under the stream)."""
    batch = registry.QUERIES["q_stream_enrich"](spark, SF_DIR).toPandas()
    _drain(sw.stream_enrich(spark, SF_DIR), "t_enrich")
    stream = spark.table("t_enrich").toPandas()
    assert _canon(batch) == _canon(stream)


def test_stream_stream_range_join_equals_batch(spark):
    """Stream-stream inner join (watermarked both sides, interval-bounded
    state) must emit exactly the batch interval-join pairs."""
    batch = registry.QUERIES["q_join_range"](spark, SF_DIR).toPandas()
    _drain(sw.stream_range_join(spark, SF_DIR), "t_ssjoin", mode="append")
    stream = spark.table("t_ssjoin").toPandas()
    assert _canon(batch) == _canon(stream)


def test_time_rollup_hour_level_equals_tumbling_window(spark):
    """Cross-operator consistency: q_time_rollup's hour level must agree
    with the 1-hour tumbling window twin (q_window_tumbling) — same
    buckets, counts, and quantized sums, computed via different plans
    (cascade-from-minute-partials vs direct groupBy)."""
    from flexcalc_spark import registry
    from tests.conftest import SF_DIR

    roll = {
        (int(r.bucket) * 3600, r.event_type): (int(r.n_events), r.sum_value)
        for r in registry.QUERIES["q_time_rollup"](spark, SF_DIR)
        .filter("level = 'hour'")
        .collect()
    }
    tumb = {
        (int(r.wstart_sec), r.event_type): (int(r.cnt), r.sum_value)
        for r in registry.QUERIES["q_window_tumbling"](spark, SF_DIR).collect()
    }
    assert roll == tumb and roll


def test_stream_anomaly_equals_batch(spark):
    """Stream-static anomaly scoring (precomputed stats broadcast onto
    the stream) must produce exactly the batch q_anomaly_zscore rows."""
    batch = registry.QUERIES["q_anomaly_zscore"](spark, SF_DIR).toPandas()
    _drain(sw.stream_anomaly(spark, SF_DIR), "t_anom", mode="append")
    stream = spark.table("t_anom").toPandas()
    assert _canon(batch) == _canon(stream)


def test_stream_stream_left_outer_join_contract(spark):
    """LEFT OUTER stream-stream interval join: matched pairs must equal
    the batch inner interval join exactly; NULL-extended rows may only
    be emitted for views whose join interval has fully passed the final
    watermark (old enough that no purchase can still arrive), and every
    sufficiently-old unmatched view MUST have its null row."""
    from pyspark.sql import functions as F
    from flexcalc_spark.tables import events_with_time

    ten_min_us = 600 * 1_000_000
    wm_delay_us = 3600 * 1_000_000

    e = events_with_time(spark, SF_DIR)
    v = e.filter("event_type = 'view'").select(
        F.col("event_id").alias("id1"),
        F.col("user_id").alias("u1"),
        F.col("ts_us").alias("ts1_us"),
    )
    p = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("id2"),
        F.col("user_id").alias("u2"),
        F.col("ts_us").alias("ts2_us"),
    )
    cond = (
        (F.col("u1") == F.col("u2"))
        & (F.col("ts2_us") > F.col("ts1_us"))
        & (F.col("ts2_us") <= F.col("ts1_us") + ten_min_us)
    )
    batch_inner = {
        (r.id1, r.id2) for r in v.join(p, cond, "inner").collect()
    }
    batch_anti = {
        r.id1: r.ts1_us for r in v.join(p, cond, "left_anti").collect()
    }
    max_purchase_us = p.agg(F.max("ts2_us")).collect()[0][0]
    final_wm_us = max_purchase_us - wm_delay_us

    _drain(
        sw.stream_interval_join_left(spark, SF_DIR), "t_ssleft", mode="append"
    )
    out = spark.table("t_ssleft").toPandas()
    got_matched = {
        (int(r.id1), int(r.id2))
        for r in out[out.id2.notna()].itertuples(index=False)
    }
    got_null_ids = {int(r.id1) for r in out[out.id2.isna()].itertuples(index=False)}

    assert got_matched == batch_inner
    # no false nulls: every emitted null row is a genuine batch anti row
    assert got_null_ids <= set(batch_anti), (
        got_null_ids - set(batch_anti)
    )
    # completeness for safely-old views (margin one interval past the
    # eviction bound to stay off the boundary semantics)
    must_emit = {
        i
        for i, ts in batch_anti.items()
        if ts + 2 * ten_min_us < final_wm_us
    }
    assert must_emit <= got_null_ids, (must_emit - got_null_ids)


def test_foreachbatch_upsert_is_idempotent(spark, tmp_path):
    """The foreachBatch sink must be replay-safe: state after the drain
    equals the batch aggregate, and re-running the whole availableNow
    stream over the same input leaves the state IDENTICAL (the
    exactly-once-by-idempotence contract)."""
    from pyspark.sql import functions as F
    from flexcalc_spark.tables import events_with_time

    out = str(tmp_path / "febatch")
    sw.run_stream_foreachbatch_upsert(spark, SF_DIR, out)

    def state():
        pdf = (
            spark.read.parquet(out)
            .select("day", "event_type", "n", "sg")
            .toPandas()
        )
        return _canon(pdf)

    first = state()

    e = events_with_time(spark, SF_DIR)
    batch = (
        e.groupBy(
            F.expr("ts_us div 86400000000").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 1_000_000.0 + 0.5).cast("bigint")
            ).alias("sg"),
        )
        .toPandas()
    )
    assert first == _canon(batch)

    # replay: drain the same input again into the same sink
    sw.run_stream_foreachbatch_upsert(spark, SF_DIR, out)
    assert state() == first


def test_checkpoint_incremental_ingest(spark):
    """Checkpointed file-source streaming must process each file ONCE
    across restarts: run 1 drains the base events file; a second file
    (day-shifted clone) is added; run 2 with the SAME checkpoint must
    process only the new file, and the idempotent sink must end equal
    to the batch aggregate over both files."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from flexcalc_spark.tables import events_with_time, table

    base = tempfile.mkdtemp(prefix="flexcalc_ckpt_src_")
    out = tempfile.mkdtemp(prefix="flexcalc_ckpt_out_")
    ckpt = tempfile.mkdtemp(prefix="flexcalc_ckpt_meta_")
    try:
        shutil.copy(os.path.join(SF_DIR, "events.parquet"),
                    os.path.join(base, "events.parquet"))

        schema = table(spark, SF_DIR, "events").schema

        def run_once():
            raw = spark.readStream.schema(schema).parquet(base)
            raw = raw.withColumn(
                "day", F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                    " div 86400000000"
                )
            )
            agg = raw.groupBy("day").agg(F.count(F.lit(1)).alias("n"))

            def upsert(df, batch_id):
                (df.write.mode("overwrite").partitionBy("day")
                   .option("partitionOverwriteMode", "dynamic")
                   .parquet(out))

            q = (agg.writeStream.foreachBatch(upsert)
                 .outputMode("complete")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(120)
            return q.recentProgress

        p1 = run_once()
        rows1 = sum(p["numInputRows"] for p in p1)

        # second file: same events shifted +40 days (disjoint day keys)
        e = table(spark, SF_DIR, "events")
        shifted = e.withColumn(
            "ts", F.expr("ts + INTERVAL 40 DAYS")
        )
        shifted.write.mode("overwrite").parquet(base + "_tmp")
        for f in os.listdir(base + "_tmp"):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(base + "_tmp", f),
                            os.path.join(base, "events2.parquet"))
        p2 = run_once()
        rows2 = sum(p["numInputRows"] for p in p2)

        n_events = e.count()
        assert rows1 == n_events, (rows1, n_events)
        # restart processed ONLY the new file
        assert rows2 == n_events, (rows2, n_events)

        # final sink state equals the batch aggregate over both files
        got = {
            (r.day, r.n)
            for r in spark.read.parquet(out).collect()
        }
        ev = events_with_time(spark, SF_DIR)
        both = ev.select(F.expr("ts_us div 86400000000").alias("day")).unionAll(
            ev.select(
                (F.expr("ts_us div 86400000000") + 40).alias("day")
            )
        )
        want = {
            (r.day, r.n)
            for r in both.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        for d in (base, base + "_tmp", out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_debounce_anchor_batch_reference_and_stream(spark):
    """Anchor-based debounce: the graded batch applyInPandas key must
    equal an independent pure-Python greedy fold over the events table,
    be a subset of lag-based q_debounce's kept set, keep the first
    event of every (user, type) group — and the applyInPandasWithState
    streaming twin must emit exactly the same kept rows."""
    from flexcalc_spark.operators.timeseries import DEBOUNCE_US
    from flexcalc_spark.tables import events_with_time

    got = registry.QUERIES["q_debounce_anchor"](spark, SF_DIR).toPandas()

    # independent reference fold
    ev = (
        events_with_time(spark, SF_DIR)
        .select("event_id", "user_id", "event_type", "ts_us")
        .toPandas()
        .sort_values(["user_id", "event_type", "ts_us", "event_id"])
    )
    want_rows = []
    for (uid, et), grp in ev.groupby(["user_id", "event_type"]):
        last = None
        for eid, t in zip(grp["event_id"], grp["ts_us"]):
            if last is None or int(t) - last > DEBOUNCE_US:
                want_rows.append((int(eid), int(uid), str(et), int(t)))
                last = int(t)
    want = sorted(want_rows)
    assert (
        sorted(
            (int(r.event_id), int(r.user_id), str(r.event_type), int(r.ts_us))
            for r in got.itertuples(index=False)
        )
        == want
    )

    # anchor-kept ⊆ lag-kept; first event of every group kept
    lag = registry.QUERIES["q_debounce"](spark, SF_DIR).toPandas()
    assert set(got["event_id"]) <= set(lag["event_id"])
    firsts = ev.groupby(["user_id", "event_type"]).head(1)["event_id"]
    assert set(firsts) <= set(got["event_id"])

    # streaming twin equivalence (single availableNow batch)
    _drain(
        st.debounce_anchor_stream(spark, SF_DIR),
        "t_deb_anchor",
        mode="update",
    )
    stream = spark.table("t_deb_anchor").toPandas()
    assert _canon(got) == _canon(stream)


def test_debounce_anchor_multibatch_semantics(spark):
    """Pin the MULTI-batch semantics of the stateful debouncer (ADVICE
    r7): with two micro-batches whose event times interleave, an
    in-watermark event arriving in batch 2 but OLDER than the stored
    anchor is evaluated against that newer anchor — the documented
    streaming debounce behavior (state never retracts emitted rows),
    which intentionally DIVERGES from the single-pass batch fold. The
    reference fold processes batch 1's rows time-sorted, then batch
    2's, carrying the anchor across; the stream must equal it exactly,
    and must differ from the batch key (proving the multi-batch path
    was actually exercised)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flexcalc_spark.operators.timeseries import DEBOUNCE_US
    from flexcalc_spark.streaming.stateful import debounce_anchor_stateful
    from flexcalc_spark.tables import events_with_time

    ev = (
        events_with_time(spark, SF_DIR)
        .select("event_id", "user_id", "event_type", "ts_us")
        .toPandas()
    )
    src = tempfile.mkdtemp(prefix="deb_multibatch_")
    try:
        # batch 1 = even event_ids, batch 2 = odd: both span the full
        # time range, so batch 2 delivers events older than batch 1's
        # final anchors. File-source ordering is by modification time.
        for i, part in enumerate(
            (ev[ev.event_id % 2 == 0], ev[ev.event_id % 2 == 1])
        ):
            sub = os.path.join(src, f"b{i}")
            spark.createDataFrame(part).coalesce(1).write.mode(
                "overwrite"
            ).parquet(sub)
            f = [x for x in os.listdir(sub) if x.endswith(".parquet")][0]
            os.rename(os.path.join(sub, f), os.path.join(src, f"{i}.parquet"))
            shutil.rmtree(sub)
            os.utime(os.path.join(src, f"{i}.parquet"), (1000 + i, 1000 + i))
        raw = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts_us long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_df = debounce_anchor_stateful(
            raw.withColumn("event_time", F.timestamp_micros(F.col("ts_us"))),
            watermark="720 hours",  # fixture spans 30 days: nothing late-drops
        )
        _drain(stream_df, "t_deb_multi", mode="update")
        got = sorted(
            (int(r.event_id), int(r.user_id), str(r.event_type), int(r.ts_us))
            for r in spark.table("t_deb_multi").toPandas().itertuples(
                index=False
            )
        )

        # reference: batch-1 rows time-sorted, then batch-2 rows,
        # one carried never-lowered anchor per group
        want_rows = []
        for (uid, et), grp in ev.groupby(["user_id", "event_type"]):
            last = None
            for phase in (0, 1):
                part = grp[grp.event_id % 2 == phase].sort_values(
                    ["ts_us", "event_id"]
                )
                for eid, t in zip(part["event_id"], part["ts_us"]):
                    if last is None or int(t) - last > DEBOUNCE_US:
                        want_rows.append(
                            (int(eid), int(uid), str(et), int(t))
                        )
                        last = int(t)
        assert got == sorted(want_rows)

        # and the divergence from the batch fold is real on this fixture
        batch = registry.QUERIES["q_debounce_anchor"](spark, SF_DIR).toPandas()
        assert set(r[0] for r in got) != set(
            int(x) for x in batch["event_id"]
        ), "fixture no longer exercises the multi-batch divergence"
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_sessions_multibatch_anchor_never_regresses(spark):
    """r13 review: a late in-watermark event used to move the stored
    session anchor BACKWARD (last_ts = t unconditionally), so a
    subsequent on-time event could open a phantom session no
    consistent sessionization produces. Pin the fixed semantics
    (_session_fold: late events join the current session, the anchor
    only advances) with two interleaved micro-batches against a
    carried-state reference fold, and prove the multi-batch path was
    exercised by divergence from the single-pass batch key. (Fails on
    the pre-fix code: the reference and the stream disagree on
    n_sessions for users whose batch-2 events contain gaps.)"""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flexcalc_spark.streaming.stateful import (
        SESSION_GAP_US,
        stateful_sessions_stateful,
    )
    from flexcalc_spark.tables import events_with_time

    ev = (
        events_with_time(spark, SF_DIR)
        .select("event_id", "user_id", "ts_us")
        .toPandas()
    )
    src = tempfile.mkdtemp(prefix="sess_multibatch_")
    try:
        for i, part in enumerate(
            (ev[ev.event_id % 2 == 0], ev[ev.event_id % 2 == 1])
        ):
            sub = os.path.join(src, f"b{i}")
            spark.createDataFrame(part).coalesce(1).write.mode(
                "overwrite"
            ).parquet(sub)
            f = [x for x in os.listdir(sub) if x.endswith(".parquet")][0]
            os.rename(os.path.join(sub, f), os.path.join(src, f"{i}.parquet"))
            shutil.rmtree(sub)
            os.utime(os.path.join(src, f"{i}.parquet"), (1000 + i, 1000 + i))
        raw = (
            spark.readStream.schema(
                "event_id long, user_id long, ts_us long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_df = stateful_sessions_stateful(
            raw.withColumn("event_time", F.timestamp_micros(F.col("ts_us"))),
            watermark="720 hours",
        )
        _drain(stream_df, "t_sess_multi", mode="update")
        got_pdf = spark.table("t_sess_multi").toPandas()
        # n_sessions and longest are monotone across updates: final
        # state per user = column-wise max
        got = {
            int(uid): (int(g["n_sessions"].max()),
                       int(g["longest_session_events"].max()))
            for uid, g in got_pdf.groupby("user_id")
        }

        # reference: batch-1 rows time-sorted, then batch-2 rows, one
        # advance-only anchor carried per user (the _session_fold
        # semantics, reimplemented independently here)
        want = {}
        for uid, grp in ev.groupby("user_id"):
            n_sessions, last, cur_len, longest = 0, None, 0, 0
            for phase in (0, 1):
                part = grp[grp.event_id % 2 == phase].sort_values(
                    ["ts_us", "event_id"]
                )
                for t in part["ts_us"]:
                    t = int(t)
                    if last is None or t - last >= SESSION_GAP_US:
                        n_sessions += 1
                        cur_len = 1
                    else:
                        cur_len += 1
                    longest = max(longest, cur_len)
                    last = t if last is None else max(last, t)
            want[int(uid)] = (n_sessions, longest)
        assert got == want

        # the multi-batch path genuinely diverges from the batch key
        batch = registry.QUERIES["q_stateful_sessions"](
            spark, SF_DIR
        ).toPandas()
        batch_map = {
            int(r.user_id): (int(r.n_sessions),
                             int(r.longest_session_events))
            for r in batch.itertuples(index=False)
        }
        assert got != batch_map, (
            "fixture no longer exercises the multi-batch divergence"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_dedup_state_is_watermark_bounded(spark):
    """r13 review: plain dropDuplicates never evicts state when the
    event-time column is not among the dedup keys (day is the key
    here), so the twin's state grew forever. The plan must carry the
    WithinWatermark dedup node (fails on the pre-fix code: plain
    Deduplicate)."""
    plan = str(
        sw.stream_dedup(spark, SF_DIR)._jdf.queryExecution().analyzed()
    )
    assert "DeduplicateWithinWatermark" in plan


def test_stream_join_drops_its_memory_sink(spark):
    """r13 review: the graded key drained every raw pair row into a
    memory-sink temp view and returned a LAZY read of it, pinning the
    pair table in the driver for the session lifetime (clearCache does
    not free memory sinks — the r12 sweep-OOM class). After the key
    runs, no t_q_stream_join_* temp view may remain (fails on the
    pre-fix code: the view exists)."""
    import os

    df = registry.QUERIES["q_stream_join"](spark, SF_DIR)
    assert df.count() > 0
    name = f"t_q_stream_join_{os.getpid()}"
    assert name not in [t.name for t in spark.catalog.listTables()]


def test_stream_join_drains_in_one_micro_batch(spark, monkeypatch):
    """The q_stream_join drain skips the trailing no-data micro-batch:
    availableNow reads the whole input into batch 0, where the inner
    interval join already emits every pair, and the no-data batch would
    only advance the watermark of a checkpoint thrown away at
    termination. Counted with a StreamingQueryListener on the sf0.01
    fixture (fails on the two-batch drain). The drain also keeps no
    committed state version in memory (maxBatchesToRetainInMemory 0).
    The caller's values of both confs must be back in place afterwards,
    also when the drain raises."""
    import os

    from pyspark.sql.streaming import StreamingQueryListener

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    retain = "spark.sql.streaming.maxBatchesToRetainInMemory"
    sf01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 fixture not present")
    batches = []

    class _Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            batches.append(event.progress.batchId)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Batches()
    orig, orig_retain = spark.conf.get(key), spark.conf.get(retain)
    spark.streams.addListener(listener)
    try:
        # sentinels: the drain sets "false" and "0"
        spark.conf.set(key, "true")
        spark.conf.set(retain, "3")
        assert registry.QUERIES["q_stream_join"](spark, sf01).count() > 0
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert batches == [0], batches
        assert spark.conf.get(key) == "true"
        assert spark.conf.get(retain) == "3"

        seen = []

        def _failing_join(spark_, sf_dir_):
            seen.append((spark_.conf.get(key), spark_.conf.get(retain)))
            raise RuntimeError("drain failed")

        monkeypatch.setattr(sw, "stream_range_join", _failing_join)
        with pytest.raises(RuntimeError, match="drain failed"):
            registry.QUERIES["q_stream_join"](spark, sf01)
        assert seen == [("false", "0")]
        assert spark.conf.get(key) == "true"
        assert spark.conf.get(retain) == "3"
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, orig)
        spark.conf.set(retain, orig_retain)


def test_stream_join_drain_frees_its_state(spark):
    """A q_stream_join call leaves no join state on the driver heap. In
    local mode the state store lives in the driver JVM, and its default
    in-memory cache of the last 2 committed versions held the whole
    join state (every input row) until a 60 s maintenance unload, 4.7
    to 4.9 MiB per call at sf0.01. Two warm calls, then the live-heap
    growth over 4 more, per call, on the sf0.01 fixture."""
    import os

    from perfbench.tracing import heap_live_mb

    sf01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 fixture not present")
    calls = 4

    def _call():
        spark.catalog.clearCache()
        assert registry.QUERIES["q_stream_join"](spark, sf01).count() > 0

    for _ in range(2):
        _call()
    before = heap_live_mb(spark)
    for _ in range(calls):
        _call()
    per_call = (heap_live_mb(spark) - before) / calls
    assert per_call < 2.0, f"{per_call:.2f} MiB retained per call"


def test_stream_upsert_scratch_registered_for_cleanup(spark):
    """r13 review: the upsert sink used a hand-rolled seed-salted /tmp
    path no cleanup mechanism knew about — one leaked dir per process.
    The scratch path must be the sinks._scratch_dir one, registered in
    its atexit set (fails on the pre-fix code: old-format path, not
    registered)."""
    import os

    from flexcalc_spark.operators import sinks

    got = registry.QUERIES["q_stream_upsert"](spark, SF_DIR).toPandas()
    assert len(got) > 0
    # snapshot BEFORE the test's own helper call: _scratch_dir
    # registers its result, so asserting against the live set after
    # calling it would be vacuous (r13 review) — the KEY must have
    # registered the path
    registered = set(sinks._SCRATCH)
    expect = sinks._scratch_dir("stream_upsert", SF_DIR)
    assert expect in registered
    assert os.path.isdir(expect)


def test_stream_join_empty_census_roundtrip(spark, tmp_path):
    """r13 review: the eager census rebuild at the end of
    q_stream_join (an int64 Arrow table passed to createDataFrame) must
    survive an EMPTY census (the r11 engineered tiny-corpus precedent)
    — one lone event forms no 5-minute pair."""
    import pandas as pd_

    import datetime

    # one event with a NULL value: empty pair census for the join key,
    # and an sg = NULL aggregate for the upsert key
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 7, "view", None, '{"k": 1}')],
        schema=(
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ),
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ev"))
    import os
    import shutil

    f = [x for x in os.listdir(tmp_path / "ev") if x.endswith(".parquet")][0]
    os.rename(tmp_path / "ev" / f, tmp_path / "events.parquet")
    shutil.rmtree(tmp_path / "ev")
    out = registry.QUERIES["q_stream_join"](spark, str(tmp_path)).toPandas()
    assert len(out) == 0
    assert sorted(out.columns) == ["gap_us_sum", "n_pairs", "user_id"]
    # and the NULL-aggregate round-trip: a lone NULL-value event gives
    # the upsert state sg = NULL, which the materialize helper must
    # carry as None. Property pin, not a fails-on-pre-fix regression:
    # the toPandas form survived HERE (Arrow off -> object-dtype None)
    # but crashed under mixed Arrow configs (NaN into the non-Arrow
    # createDataFrame); the Arrow-table rebuild keeps NULL under every
    # Arrow config (r13 review)
    upsert = registry.QUERIES["q_stream_upsert"](
        spark, str(tmp_path)
    ).toPandas()
    assert len(upsert) == 1
    assert int(upsert["n"].iloc[0]) == 1
    assert pd_.isna(upsert["sg"].iloc[0])


def test_stream_attribution_equals_batch(spark):
    """The streaming (click, purchase) lookback pair stream, collapsed
    to per-purchase last-click and a daily census, must equal
    q_attribution's attributed rows exactly (the batch key also counts
    unattributed purchases, which an inner pair stream cannot see —
    those columns are compared on the attributed subset)."""
    from pyspark.sql import functions as F

    _drain(
        sw.stream_attribution_pairs(spark, SF_DIR),
        "t_attr_pairs",
        mode="append",
    )
    pairs = spark.table("t_attr_pairs")
    stream_census = (
        pairs.groupBy("p_id", "p_us", "vg")
        .agg(F.max("c_us").alias("click_us"))
        .groupBy(F.expr("p_us div 86400000000").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_attributed"),
            F.round(
                F.sum("vg").cast("double") / 1_000_000.0, 4
            ).alias("attr_value"),
        )
        .toPandas()
    )
    batch = (
        registry.QUERIES["q_attribution"](spark, SF_DIR)
        .filter(F.col("n_attributed") > 0)
        .select("day", "n_attributed", "attr_value")
        .toPandas()
    )
    assert _canon(stream_census) == _canon(batch)


def test_debounce_anchor_chunk_boundary_carry(spark):
    """Force tiny Arrow batches so (user, type) groups SPAN chunk
    boundaries inside mapInPandas: the carry logic must produce output
    identical to the default-batch run (a dropped or double-processed
    trailing group would change the kept set)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    baseline = _canon(
        registry.QUERIES["q_debounce_anchor"](spark, SF_DIR).toPandas()
    )
    try:
        spark.conf.set(key, "7")  # far below any group size
        tiny = _canon(
            registry.QUERIES["q_debounce_anchor"](spark, SF_DIR).toPandas()
        )
    finally:
        spark.conf.set(key, orig)
    assert tiny == baseline


def test_stream_warc_ingest_equals_batch(spark, tmp_path):
    """Streaming crawl ingest: a directory of .warc.gz files consumed
    via readStream(binaryFile) must parse to exactly the batch
    reader's rows (stateless parse, append mode)."""
    from flexcalc_spark.sources import warc as wc

    d = tmp_path / "crawl"
    d.mkdir()
    for f in range(2):
        recs = [
            wc.build_record(
                "response",
                wc.http_response(
                    f"<html><body><p>doc {f}-{i}</p></body></html>".encode()
                ),
                uri=f"http://c/{f}/{i}",
            )
            for i in range(5)
        ] + [wc.build_record("request", b"GET / HTTP/1.1\r\n\r\n")]
        (d / f"part-{f}.warc.gz").write_bytes(wc.write_warc(recs))
    batch = wc.read_warc(spark, str(d)).toPandas()
    assert len(batch) == 10
    _drain(wc.stream_warc(spark, str(d)), "t_warc", mode="append")
    stream = spark.table("t_warc").toPandas()
    assert _canon(batch) == _canon(stream)


def test_stream_jsonl_zst_equals_batch(spark, tmp_path):
    """Streaming shard ingest: a directory of .jsonl.zst files consumed
    via readStream(binaryFile) must parse to exactly the batch
    reader's rows (stateless decompress-split-parse, append mode)."""
    import json

    from flexcalc_spark.operators.sinks import (
        read_jsonl_zst,
        stream_jsonl_zst,
    )
    from flexcalc_spark.sources import zstdcodec

    d = tmp_path / "corpus"
    d.mkdir()
    schema = ("doc_id bigint, text string, lang string, source string,"
              " n_chars bigint")
    for f in range(2):
        body = ("\n".join(
            json.dumps({"doc_id": f * 100 + i, "text": f"döc {f}-{i}",
                        "lang": "en", "source": "web", "n_chars": i},
                       ensure_ascii=False, sort_keys=True)
            for i in range(5)
        ) + "\n").encode("utf-8")
        (d / f"part-{f}.jsonl.zst").write_bytes(zstdcodec.compress(body))
    batch = read_jsonl_zst(spark, str(d), schema).toPandas()
    assert len(batch) == 10
    _drain(stream_jsonl_zst(spark, str(d), schema), "t_jzst",
           mode="append")
    stream = spark.table("t_jzst").toPandas()
    assert _canon(batch) == _canon(stream)


def test_vectorized_sessionizer_matches_reference_fold():
    """r14: q_stateful_sessions moved from per-group applyInPandas
    (_sessionize_pdf) to the secondary-sort vectorized census
    (_sessionize_sorted_frame + _sessionize_batches). Pin the
    vectorized path against the reference fold on engineered corpora
    covering the decision boundaries: gap exactly == SESSION_GAP_US
    (opens a session), gap == SESSION_GAP_US - 1 (does not),
    single-event users, a user whose events all share one timestamp,
    and users adjacent in the sorted stream — then drive the
    chunked iterator with every possible chunk split (including
    splits MID-user, exercising the carry) and require identical
    output."""
    import numpy as np

    from flexcalc_spark.streaming.stateful import (
        SESSION_GAP_US,
        _sessionize_batches,
        _sessionize_pdf,
        _sessionize_sorted_frame,
    )

    G = SESSION_GAP_US
    users = {
        1: [0, G - 1, G, 2 * G, 2 * G + 5, 4 * G],      # mixed gaps
        2: [100],                                        # singleton
        3: [7, 7 + G, 7 + 2 * G, 7 + 3 * G],             # all new sessions
        4: [50, 50, 50],                                 # zero gaps
        5: [0, 1, 2, G + 2, G + 3, G + 4, 3 * G],        # runs + tail
    }
    rows = [(u, t) for u in sorted(users) for t in users[u]]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_us"]).astype("int64")

    want = pd.concat(
        [_sessionize_pdf(g) for _, g in pdf.groupby("user_id")],
        ignore_index=True,
    )
    canon = lambda df: sorted(
        map(tuple, df.astype("int64").itertuples(index=False, name=None))
    )
    got = _sessionize_sorted_frame(pdf)
    assert canon(got) == canon(want)

    # every 2-chunk split of the sorted stream, including mid-user
    for cut in range(0, len(pdf) + 1):
        chunks = [pdf.iloc[:cut], pdf.iloc[cut:]]
        out = pd.concat(
            list(_sessionize_batches(iter(chunks))), ignore_index=True
        )
        assert canon(out) == canon(want), f"split at {cut} diverged"
    # and a shredded run: every row its own chunk
    shredded = [pdf.iloc[i : i + 1] for i in range(len(pdf))]
    out = pd.concat(
        list(_sessionize_batches(iter(shredded))), ignore_index=True
    )
    assert canon(out) == canon(want)
    # empty stream / empty chunks degrade cleanly
    assert list(_sessionize_batches(iter([]))) == []
    out = list(_sessionize_batches(iter([pdf.iloc[0:0], pdf])))
    assert canon(pd.concat(out, ignore_index=True)) == canon(want)


def test_stateful_sessions_chunk_boundary_carry(spark):
    """Force tiny Arrow batches so user groups SPAN chunk boundaries
    inside the graded key's mapInPandas: carry logic must reproduce
    the default-batch output exactly (the q_debounce_anchor carry
    test, applied to the r14 sessionizer)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    baseline = _canon(
        registry.QUERIES["q_stateful_sessions"](spark, SF_DIR).toPandas()
    )
    try:
        spark.conf.set(key, "7")  # far below any per-user group size
        tiny = _canon(
            registry.QUERIES["q_stateful_sessions"](spark, SF_DIR).toPandas()
        )
    finally:
        spark.conf.set(key, orig)
    assert tiny == baseline


def test_drain_partitions_size_by_input_bytes(spark, tmp_path):
    """r15: the graded stream drains scope their state partition count
    from the events input size — clamp(bytes/512KiB, 1, cores). Pins
    (a) the flat-file path, (b) the DIRECTORY layout (os.path.getsize
    on a dir returns the inode size ~4096 WITHOUT raising, so the
    pre-fix code silently sized any partitioned layout to 1 — this
    test fails there), and (c) the missing-file core-count fallback."""
    import os

    cores = spark.sparkContext.defaultParallelism

    def scoped_value(sf_dir):
        events = os.path.join(sf_dir, "events.parquet")
        with sw._drain_shuffle_partitions(spark, events):
            return int(spark.conf.get("spark.sql.shuffle.partitions"))

    # (a) flat file: 3 MiB -> ceil(3 MiB / 512 KiB) = 6 (cores permitting)
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "events.parquet").write_bytes(b"\0" * (3 * 1024 * 1024))
    assert scoped_value(str(flat)) == min(cores, 6)

    # (b) directory layout: two nested 1 MiB part files -> ceil(2M/512K)=4,
    # NOT ceil(4096/512K)=1 from the directory inode
    nested = tmp_path / "nested"
    (nested / "events.parquet" / "day=1").mkdir(parents=True)
    (nested / "events.parquet" / "day=1" / "part-0.parquet").write_bytes(
        b"\0" * (1024 * 1024)
    )
    (nested / "events.parquet" / "day=1" / "part-1.parquet").write_bytes(
        b"\0" * (1024 * 1024)
    )
    assert scoped_value(str(nested)) == min(cores, 4)

    # (c) missing input: core-count fallback
    empty = tmp_path / "empty"
    empty.mkdir()
    assert scoped_value(str(empty)) == cores
