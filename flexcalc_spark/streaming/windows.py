"""Event-time windowing (SURVEY.md §2.2 "Streaming").

Each key is graded through its BATCH twin (DuckDB has no streams); the
Structured Streaming formulation of the same computation lives in
``stream_*`` builders below and is asserted row-identical to the batch
twin in tests/test_streaming.py (readStream -> availableNow -> memory
sink), per SURVEY §5.2.4.

All graded window boundaries are integer epoch-second math — exact,
engine-portable, and immune to the ns/µs truncation trap. The streaming
builders use the native window()/session_window() operators over a real
timestamp column (the idiomatic streaming plan; same results).

Scale: streaming aggregations keyed on (window, event_type)/(user_id)
with watermarks bound state size; at 100 TB-equivalent event rates the
state store (RocksDB in production) holds one row per open window.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flexcalc_spark.registry import register
from flexcalc_spark.tables import (
    epoch_us_col, events_with_time, materialize_local, scoped_conf, table,
)

HOUR = 3600
SLIDE = 900             # 15 min
SESSION_GAP_US = 1_800_000_000  # 30 min in µs


@register(
    "q_window_tumbling",
    oracle="""
        SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS wstart_sec,
               event_type,
               COUNT(*) AS cnt,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    family="streaming",
    scale_notes="tumbling window = hash agg on (hour, type); streaming twin carries one state row per open window",
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling count/sum per event type (batch twin)."""
    e = events_with_time(spark, sf_dir)
    return (
        e.groupBy(
            (F.expr(f"ts_sec div {HOUR}") * HOUR).alias("wstart_sec"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
    )


@register(
    "q_window_sliding",
    oracle=f"""
        SELECT ((epoch_us(ts) // 1000000 // {SLIDE}) - k.k) * {SLIDE} AS wstart_sec,
               event_type,
               COUNT(*) AS cnt
        FROM events
        CROSS JOIN (SELECT unnest(range(0, {HOUR // SLIDE})) AS k) k
        GROUP BY 1, 2
    """,
    family="streaming",
    scale_notes="sliding window explodes each row into window_len/slide=4 windows pre-agg; partial agg collapses them map-side",
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (batch twin).

    Each event belongs to 4 overlapping windows: wstart = (floor(ts/900)
    - k)*900 for k in 0..3 — every such window satisfies
    wstart <= ts < wstart+3600 by construction."""
    e = events_with_time(spark, sf_dir)
    k = F.explode(F.sequence(F.lit(0), F.lit(HOUR // SLIDE - 1))).alias("k")
    return (
        e.select("ts_sec", "event_type", k)
        .groupBy(
            ((F.expr(f"ts_sec div {SLIDE}") - F.col("k")) * SLIDE).alias("wstart_sec"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_SESSIONIZE_ORACLE = f"""
    WITH t AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us
        FROM events
    ), g AS (
        SELECT event_id, user_id, ts_us,
               CASE WHEN ts_us - LAG(ts_us) OVER w >= {SESSION_GAP_US} OR
                         LAG(ts_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT event_id, user_id,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
    FROM g
"""


def sessionized(e: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """events (+ts_us) -> (event_id, user_id, ts_us, *extra, sess_id):
    the ONE place the 30-min-gap boundary rule lives. New session when
    the gap from the previous event is >= the threshold — matching
    session_window's half-open [start, last+gap) semantics.
    ``extra_cols`` carries additional event columns (e.g. event_type for
    path analysis) through the same single user_id shuffle."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts_us") - prev >= SESSION_GAP_US), 1
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        *extra_cols,
        F.sum(new_sess).over(wc).cast("bigint").alias("sess_id"),
    )


@register(
    "q_sessionize",
    oracle=_SESSIONIZE_ORACLE,
    family="streaming",
    scale_notes="gap sessionization = lag + running sum: one shuffle on user_id; the batch twin of session_window / applyInPandasWithState",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) in pure window SQL."""
    e = events_with_time(spark, sf_dir)
    return sessionized(e).select("event_id", "user_id", "sess_id")


@register(
    "q_window_session",
    oracle=f"""
        WITH s AS ({_SESSIONIZE_ORACLE})
        SELECT s.user_id, s.sess_id,
               MIN(t.ts_us) // 1000000 AS session_start_sec,
               COUNT(*) AS cnt
        FROM s JOIN (SELECT event_id, epoch_us(ts) AS ts_us FROM events) t
          ON s.event_id = t.event_id
        GROUP BY s.user_id, s.sess_id
    """,
    family="streaming",
    scale_notes="session aggregation over the sessionized stream; streaming twin is native session_window with merging state",
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates (batch twin of session_window) — shares
    the boundary rule with q_sessionize via sessionized()."""
    e = events_with_time(spark, sf_dir)
    sess = sessionized(e)
    return sess.groupBy("user_id", "sess_id").agg(
        F.expr("min(ts_us) div 1000000").alias("session_start_sec"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q_stream_dedup",
    oracle="""
        SELECT event_type, COUNT(*) AS uniq_cnt
        FROM (SELECT DISTINCT user_id, event_type,
                     epoch_us(ts) // 86400000000 AS day
              FROM events)
        GROUP BY event_type
    """,
    family="streaming",
    scale_notes="dropDuplicates keyed on (user, type, day); the streaming twin uses dropDuplicatesWithinWatermark (25 h delay > the 24 h same-day duplicate spread) — plain dropDuplicates would never evict state because the event-time column is not a dedup key",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated daily-active counts (batch twin of streaming
    dropDuplicates-with-watermark)."""
    e = events_with_time(spark, sf_dir)
    return (
        e.select(
            "user_id",
            "event_type",
            F.expr("ts_us div 86400000000").alias("day"),
        )
        .dropDuplicates(["user_id", "event_type", "day"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("uniq_cnt"))
    )


@register(
    "q_stream_late",
    oracle=None,  # watermark late-drop is a streaming-only semantic (rows-only);
    # behavior with injected late rows is asserted in tests/test_streaming.py
    family="streaming",
    scale_notes="watermark horizon = max event time - 1h: rows older than the horizon are dropped by the streaming engine, bounding state",
)
def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch rendering of the watermark horizon: per-type counts of rows
    within 1 hour of the stream's max event time (what a 1h-watermark
    run reports for the final window set).

    The horizon is a broadcast scalar aggregate joined under the filter —
    ONE plan, no driver-side collect (an empty events table yields a null
    horizon, the comparison is null, and the output is empty — the same
    empty result the grouped aggregate would produce)."""
    e = events_with_time(spark, sf_dir)
    horizon = F.broadcast(
        e.agg((F.max("ts_sec") - HOUR).alias("horizon"))
    )
    # Spark drops a row iff event_time < watermark (STRICTLY below), so
    # the row exactly at the horizon is KEPT -> >= here, not >.
    return (
        e.crossJoin(horizon)
        .filter(F.col("ts_sec") >= F.col("horizon"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Structured Streaming builders (used by tests/test_streaming.py)
# ---------------------------------------------------------------------------


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file-source stream with a real event-time column."""
    schema = table(spark, sf_dir, "events").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    raw = raw.withColumn("ts_us", epoch_us_col(raw))
    return raw.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native window() + watermark streaming twin of q_window_tumbling."""
    s = stream_events(spark, sf_dir)
    return (
        s.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart_sec"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native sliding window() streaming twin of q_window_sliding."""
    s = stream_events(spark, sf_dir)
    return (
        s.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart_sec"),
            "event_type",
            "cnt",
        )
    )


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window streaming twin of q_window_session."""
    s = stream_events(spark, sf_dir)
    return (
        s.withWatermark("event_time", "1 hour")
        .groupBy(F.session_window("event_time", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start_sec"),
            "cnt",
        )
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup twin of q_stream_dedup with WATERMARK-BOUNDED
    state: plain dropDuplicates only evicts state when the event-time
    column is among the dedup keys (it is not here — day is), so its
    state grew one row per (user, type, day) forever (r13 review).
    dropDuplicatesWithinWatermark evicts by the watermark; a 25 h delay
    strictly covers the <= 24 h spread of same-day duplicates, so the
    output equals the batch twin's global per-day dedup for the
    single-micro-batch replay source here (availableNow over one file,
    watermark still initial). MULTI-batch scope (the debounce-twin
    documentation precedent): dropDuplicatesWithinWatermark also drops
    LATE rows, so a key whose first occurrence arrives > 25 h of
    event time behind the observed max is dropped where the batch twin
    would count it — the standard streaming late-data semantics, and
    the price of bounded state."""
    s = stream_events(spark, sf_dir)
    return (
        s.withWatermark("event_time", "25 hours")
        .select(
            "event_time",
            "user_id",
            "event_type",
            F.expr("ts_us div 86400000000").alias("day"),
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("uniq_cnt"))
    )


def _drain_shuffle_partitions(spark: SparkSession, input_path: str | None = None):
    """Scope spark.sql.shuffle.partitions for a stream drain (streaming
    state partitions freeze from this conf at the first micro-batch;
    these drains use fresh checkpoints, so re-scoping per run is safe).

    With ``input_path`` (the drain's source file or directory) the
    count is SCALE-ADAPTIVE (r15, guide §2.2 — size partitions by
    data, never a constant): a stream-stream join builds
    4 state-store instances per partition and commits each per batch,
    so at small inputs the per-partition store open/commit overhead
    dominates the per-row puts — measured at sf0.1 (interleaved
    single-run sweep, q_stream_join): 32 parts 15.5-16.2 s, 16 parts
    11.3, 8 parts 8.8, 4 parts 8.7-9.5, 2 parts 10.0-10.3. Partitions
    = clamp(input_bytes / 512 KiB, 1, defaultParallelism), i.e. grows
    linearly with input until the core count caps it — at production
    scale the cap binds and behavior is unchanged (state sizing there
    is GB-per-partition, a cluster conf; see OPTIMIZATION_r15.md).
    Without ``input_path`` the old core-count behavior is kept (test
    drains)."""
    import os

    from flexcalc_spark.tables import scoped_shuffle_partitions

    n = None
    if input_path is not None:
        # getsize on a DIRECTORY returns the inode size (~4096) without
        # raising, so a partitioned directory layout must be summed
        # explicitly — never sized from the dir entry (r15 review).
        try:
            if os.path.isdir(input_path):
                nbytes = sum(
                    os.path.getsize(os.path.join(root, f))
                    for root, _dirs, files in os.walk(input_path)
                    for f in files
                )
            else:
                nbytes = os.path.getsize(input_path)
            cores = spark.sparkContext.defaultParallelism
            n = max(1, min(cores, -(-nbytes // (512 * 1024))))
        except OSError:
            n = None    # unstatable layout: core-count fallback
    return scoped_shuffle_partitions(spark, n)


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "complete"):
    """Execute a streaming DataFrame with availableNow into a memory sink;
    returns the sink table name after the stream drains."""
    with _drain_shuffle_partitions(df.sparkSession):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                f"stream '{name}' did not drain within 120s — sink is partial"
            )
    return name


@register(
    "q_stream_enrich",
    oracle="""
        SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS wstart_sec,
               c_mktsegment,
               COUNT(*) AS cnt,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
                   AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
    family="streaming",
    scale_notes="stream-static enrichment: the dim joins BEFORE the windowed agg as a broadcast (stream-static joins never shuffle the stream side or hold join state); agg state is one row per (hour, segment)",
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-enriched tumbling aggregate (batch twin of a stream-static
    join): events joined to the customer dim, then hourly count/sum per
    market segment."""
    e = events_with_time(spark, sf_dir)
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        e.join(F.broadcast(c), e["user_id"] == c["c_custkey"])
        .groupBy(
            (F.expr(f"ts_sec div {HOUR}") * HOUR).alias("wstart_sec"),
            "c_mktsegment",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
    )


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + native window() twin of q_stream_enrich.

    The static side is a plain batch DataFrame: Structured Streaming
    re-plans it per micro-batch and broadcasts it under the join — the
    idiomatic way to enrich a 100 TB/day stream with a dimension table."""
    s = stream_events(spark, sf_dir)
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        s.join(F.broadcast(c), s["user_id"] == c["c_custkey"])
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart_sec"),
            "c_mktsegment",
            "cnt",
            "sum_value",
        )
    )


def stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join twin of q_join_range (event pairs per
    user within 5 minutes).

    The hardest streaming operator: both sides watermarked, and the join
    condition carries a time-interval bound on the event-time columns so
    the state store can evict rows older than the interval + watermark.
    Inner join emits eagerly per micro-batch (the watermark only gates
    state cleanup), so availableNow output equals the batch twin. The
    exact pairing predicate stays in integer µs — event_time is
    timestamp_micros(ts_us), so the interval bound is the same predicate
    in timestamp form, just visible to the state manager."""
    five_min_us = 300 * 1_000_000
    s1 = stream_events(spark, sf_dir).select(
        F.col("event_id").alias("id1"),
        F.col("user_id").alias("u1"),
        F.col("ts_us").alias("ts1_us"),
        F.col("event_time").alias("t1"),
    )
    s2 = stream_events(spark, sf_dir).select(
        F.col("event_id").alias("id2"),
        F.col("user_id").alias("u2"),
        F.col("ts_us").alias("ts2_us"),
        F.col("event_time").alias("t2"),
    )
    j = s1.withWatermark("t1", "1 hour").join(
        s2.withWatermark("t2", "1 hour"),
        (F.col("u1") == F.col("u2"))
        & (F.col("ts2_us") > F.col("ts1_us"))
        & (F.col("ts2_us") <= F.col("ts1_us") + five_min_us)
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    )
    return j.select(
        "id1",
        "id2",
        F.col("u1").alias("user_id"),
        (F.col("ts2_us") - F.col("ts1_us")).alias("gap_us"),
    )


def stream_attribution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_attribution's interval join: the
    (purchase, qualifying click) pair stream — clicks joined to later
    same-user purchases within the 7-day lookback. Inner stream-stream
    join emits eagerly; each side's state holds at most
    watermark + lookback of history per user. The per-purchase MAX
    collapse happens on the drained sink (tests/test_streaming.py), the
    same split q_stream_join uses for its census."""
    from flexcalc_spark.operators.analytics_ext import ATTR_LOOKBACK_US

    clicks = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("user_id").alias("c_user"),
        F.col("ts_us").alias("c_us"),
        F.col("event_time").alias("c_time"),
    )
    purchases = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts_us").alias("p_us"),
        F.floor(F.col("value") * 1_000_000.0 + 0.5)
        .cast("bigint")
        .alias("vg"),
        F.col("event_time").alias("p_time"),
    )
    # exact microsecond interval: a DAYS truncation would silently
    # narrow the ANDed time predicate if the lookback ever becomes
    # non-day-aligned (r13 review)
    lookback_expr = F.expr(f"INTERVAL {ATTR_LOOKBACK_US} MICROSECOND")
    j = clicks.withWatermark("c_time", "1 hour").join(
        purchases.withWatermark("p_time", "1 hour"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_us") < F.col("p_us"))
        & (F.col("c_us") >= F.col("p_us") - ATTR_LOOKBACK_US)
        & (F.col("c_time") < F.col("p_time"))
        & (F.col("c_time") >= F.col("p_time") - lookback_expr),
        "inner",
    )
    return j.select("p_id", "p_us", "vg", "c_us")


def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view, with the
    purchase the same user made within 10 minutes after it, or NULLs.

    The subtlest streaming operator semantics Spark has: matched pairs
    emit eagerly like the inner join, but a NULL-extended row for an
    unmatched view can only emit once the RIGHT watermark has passed
    ``t1 + interval`` (before that, a matching purchase could still
    arrive) — so under availableNow the null rows for the newest views
    are withheld at stream end. tests/test_streaming.py asserts exactly
    that contract against the batch twin: matched set identical,
    emitted nulls == batch anti-join rows old enough for the final
    watermark, newer nulls withheld.

    Scale: state per side is bounded by (watermark delay + interval) of
    events per user — the interval bound is what lets the state store
    evict; an unbounded-condition outer join would hold every row
    forever.
    """
    ten_min_us = 600 * 1_000_000
    s1 = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select(
        F.col("event_id").alias("id1"),
        F.col("user_id").alias("u1"),
        F.col("ts_us").alias("ts1_us"),
        F.col("event_time").alias("t1"),
    )
    s2 = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("id2"),
        F.col("user_id").alias("u2"),
        F.col("ts_us").alias("ts2_us"),
        F.col("event_time").alias("t2"),
    )
    j = s1.withWatermark("t1", "1 hour").join(
        s2.withWatermark("t2", "1 hour"),
        (F.col("u1") == F.col("u2"))
        & (F.col("ts2_us") > F.col("ts1_us"))
        & (F.col("ts2_us") <= F.col("ts1_us") + ten_min_us)
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    return j.select(
        "id1",
        F.col("u1").alias("user_id"),
        F.col("ts1_us"),
        "id2",
        (F.col("ts2_us") - F.col("ts1_us")).alias("gap_us"),
    )


def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_anomaly_zscore: score each arriving event
    against PRECOMPUTED per-type stats (stream-static broadcast join +
    per-row codegen z) — the live-inference pattern: the expensive
    aggregate runs batch-side, the stream pays only a broadcast lookup.
    Stateless, so append mode and no watermark needed."""
    from flexcalc_spark.operators.anomaly import _Z_EXPR

    e = table(spark, sf_dir, "events")
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_g"),
        F.sum(
            F.expr("CAST(floor(value * value * 1000000.0 + 0.5) AS BIGINT)")
        )
        .cast("bigint")
        .alias("ssq_g"),
    )
    s = stream_events(spark, sf_dir)
    z_q = F.expr(_Z_EXPR).cast("bigint")
    return s.join(F.broadcast(st), "event_type").select(
        "event_id",
        "event_type",
        z_q.alias("z_q"),
        F.when(F.abs(z_q) >= 20000, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_anomaly"),
    )


@register(
    "q_session_stats",
    oracle=f"""
        WITH s AS ({_SESSIONIZE_ORACLE}),
        t AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        per AS (
            SELECT s.user_id, s.sess_id,
                   (MAX(t.ts_us) - MIN(t.ts_us)) // 1000000 AS dur_sec,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM s JOIN t ON s.event_id = t.event_id
            GROUP BY s.user_id, s.sess_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               ROUND(quantile_cont(CAST(dur_sec AS DOUBLE), 0.5), 4)
                   AS p50_dur_sec,
               ROUND(quantile_cont(CAST(dur_sec AS DOUBLE), 0.9), 4)
                   AS p90_dur_sec,
               ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 4)
                   AS avg_events
        FROM per
    """,
    family="streaming",
    scale_notes=(
        "session-duration distribution over the sessionized stream: "
        "per-session (duration, count) collapses on the same user_id "
        "shuffle sessionization already pays, then one scalar "
        "percentile aggregate over the session-level table (sessions "
        "<< events). Durations are exact integer seconds; the shared "
        "sessionized() boundary rule keeps this consistent with "
        "q_sessionize / session_window / the stateful twin by "
        "construction"
    ),
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level session statistics (count, p50/p90 duration,
    mean events/session) from the shared gap-sessionization rule."""
    e = events_with_time(spark, sf_dir)
    per = (
        sessionized(e)
        .groupBy("user_id", "sess_id")
        .agg(
            F.expr("(max(ts_us) - min(ts_us)) div 1000000").alias(
                "dur_sec"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.round(
            F.expr("percentile(CAST(dur_sec AS DOUBLE), 0.5)"), 4
        ).alias("p50_dur_sec"),
        F.round(
            F.expr("percentile(CAST(dur_sec AS DOUBLE), 0.9)"), 4
        ).alias("p90_dur_sec"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_events"),
    )


@register(
    "q_session_paths",
    oracle=f"""
        WITH t AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
            FROM events
        ), g AS (
            SELECT event_id, user_id, ts_us, event_type,
                   CASE WHEN ts_us - LAG(ts_us) OVER w >= {SESSION_GAP_US}
                             OR LAG(ts_us) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM t
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), s AS (
            SELECT user_id, ts_us, event_id, event_type,
                   SUM(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM g
        ), p AS (
            SELECT user_id, sess_id,
                   string_agg(event_type, '>' ORDER BY ts_us, event_id)
                       AS path
            FROM s GROUP BY user_id, sess_id
        )
        SELECT path,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM p GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 20
    """,
    family="analytics",
    scale_notes=(
        "user-journey path analysis (the product-analytics 'top paths' "
        "report): event_type rides THROUGH the one user_id shuffle the "
        "shared sessionization rule already pays (sessionized extra_cols "
        "— no second join to re-attach it), each session's path folds "
        "via collect_list over rows already co-located and "
        "ordered-by-struct-sort (deterministic under any partitioning), "
        "and the path histogram collapses map-side before a "
        "TakeOrderedAndProject top-20. Path strings are bounded by "
        "session length, not corpus size; at 100 TB add a per-session "
        "event cap (slice after sort) so a runaway bot session cannot "
        "produce an unbounded cell — the same cap every product "
        "analytics engine applies"
    ),
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session event-type paths ('view>click>...') with session
    and distinct-user counts, on the shared 30-min-gap rule."""
    e = events_with_time(spark, sf_dir)
    per = (
        sessionized(e, extra_cols=("event_type",))
        .groupBy("user_id", "sess_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(ts_us, event_id, event_type))),"
                " x -> x.event_type), '>')"
            ).alias("path")
        )
    )
    return (
        per.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


def run_stream_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Idempotent foreachBatch sink: the exactly-once write pattern.

    Structured Streaming guarantees at-least-once foreachBatch calls
    after failure/restart, so the SINK must make replays harmless. The
    standard recipe, rendered here against a plain-parquet key-value
    "table": each micro-batch of per-(event_type, day) partials
    OVERWRITES exactly the batch's own (batch_id-derived) deterministic
    state rather than appending — replaying a batch rewrites the same
    files with the same bytes, so end state is a pure function of the
    input, not of delivery count. tests/test_streaming.py drains the
    stream, re-applies the final batch by hand, and asserts the state
    is byte-stable and equal to the batch aggregate.

    At 100 TB the same shape targets a transactional table format
    (MERGE keyed on (group, batch_id)); dynamic partition overwrite is
    the plain-parquet equivalent.
    """
    s = stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("event_time", "1 hour")
        .groupBy(
            F.expr("ts_us div 86400000000").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 1_000_000.0 + 0.5).cast("bigint")
            ).alias("sg"),
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite-by-key: deterministic partition dir per (day) —
        # replaying batch_id rewrites identical content.
        # r14 (guide §6): collocate each day's rows in ONE task before
        # the partitioned write — the drain's 8 state partitions
        # otherwise each write a file into every day dir they touch
        # (measured 143 files for 150 rows at sf0.1; now one file per
        # day). The within-partition sort makes file CONTENT a pure
        # function of the batch too, so replays rewrite identical
        # bytes regardless of shuffle fetch order.
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .repartition("day")
            .sortWithinPartitions("day", "event_type")
            .write.mode("overwrite")
            .partitionBy("day")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    with _drain_shuffle_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.foreachBatch(upsert)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                "foreachBatch stream did not drain within 120s"
            )


@register(
    "q_stream_upsert",
    oracle="""
        SELECT epoch_us(ts) // 86400000000 AS day,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS sg
        FROM events GROUP BY day, event_type
    """,
    family="streaming",
    scale_notes=(
        "the exactly-once sink pattern GRADED end-to-end: the real "
        "foreachBatch stream drains (availableNow) into an idempotent "
        "overwrite-by-key parquet state at plan build, and the key "
        "returns the state READ BACK — so the driver hash certifies "
        "that stream + at-least-once sink replay semantics land on "
        "exactly the batch aggregate (the oracle). Replays rewrite "
        "identical bytes (state is a function of input, not delivery "
        "count — tests/test_streaming.py re-applies the final batch "
        "and asserts byte-stability). At 100 TB the same shape "
        "targets a transactional table MERGE keyed on (group, "
        "batch_id); dynamic partition overwrite is the plain-parquet "
        "equivalent"
    ),
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the foreachBatch idempotent-upsert stream, then read the
    sink state back: per-(day, event_type) counts and grid sums equal
    to the batch aggregate."""
    import shutil

    from flexcalc_spark.operators.sinks import _scratch_dir

    # pid-suffixed scratch: atexit cleanup + stale-sibling sweep
    # (the hand-rolled hash(sf_dir) path leaked one dir per process —
    # str hash is seed-salted, so no later run ever reused it; r13
    # review, the r8/r10 scratch-litter class)
    out = _scratch_dir("stream_upsert", sf_dir)
    # Dynamic partition overwrite only rewrites day partitions present
    # in the final batch — stale day dirs from an aborted SAME-process
    # run against an older fixture generation would survive and union
    # into the graded read-back.
    shutil.rmtree(out, ignore_errors=True)
    run_stream_foreachbatch_upsert(spark, sf_dir, out)
    state = spark.read.parquet(out).select(
        F.col("day").cast("bigint").alias("day"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sg").cast("bigint").alias("sg"),
    )
    # materialize the SMALL state (days x event types) before
    # returning: a lazy read of the scratch dir would race ANOTHER
    # process's 6 h stale-sibling sweep if the driver re-collects
    # hours later (r13 review — new exposure from the shared
    # fingerprinted scratch path; the q_stream_join precedent)
    return materialize_local(state)


@register(
    "q_stream_join",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        ),
        p AS (
            SELECT a.user_id, b.us - a.us AS gap
            FROM e a JOIN e b
              ON a.user_id = b.user_id
             AND b.us > a.us
             AND b.us <= a.us + 300000000
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(gap) AS BIGINT) AS gap_us_sum
        FROM p GROUP BY user_id
    """,
    family="streaming",
    scale_notes=(
        "the stream-stream interval join GRADED end-to-end: the real "
        "watermarked double-stream join drains (availableNow, append "
        "mode) through a foreachBatch per-user census at plan build and "
        "the key returns the merged census as a local Arrow table — the "
        "driver hash certifies the streaming state manager emitted "
        "exactly the batch pair set (inner interval joins emit eagerly; "
        "the watermark only gates state eviction). The drain runs ONE "
        "micro-batch: with noDataMicroBatches off for this drain only, "
        "the watermark-advance batch that would emit nothing and evict "
        "state from a discarded checkpoint is skipped; drains whose "
        "operators emit or drop rows on watermark advance (append "
        "windows, outer joins, watermark dedup) keep it. The drain "
        "also keeps NO committed state version in memory "
        "(maxBatchesToRetainInMemory 0): the join state is every input "
        "row, and the provider's default cache of 2 versions held it "
        "on the (local-mode) driver heap until a 60 s maintenance "
        "unload, 43.9 MiB per call at sf0.1, for a next batch that "
        "never runs. At 100 TB "
        "the interval bound is what keeps the join state finite: each "
        "side holds "
        "at most watermark + interval of history per user key, and "
        "state partitions by the user equi key exactly like the "
        "batch shuffle would"
    ),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stream-stream 5-minute interval join and return the
    per-user pair census (user_id, n_pairs, gap_us_sum)."""
    # r14 optimization: the memory sink previously collected EVERY raw
    # pair row (millions at sf0.1) into the driver, serializing the
    # whole pair stream row-by-row just to aggregate it afterwards —
    # the single most expensive part of the drain (measured 12.4 s end
    # to end; the batch twin of the same join is 0.8 s). foreachBatch
    # aggregates each micro-batch's pairs DISTRIBUTED (count/sum per
    # user) and only the |users|-sized partial census crosses to the
    # driver; partials from separate batches merge exactly because
    # count and gap-sum are commutative monoids over the disjoint
    # per-batch pair sets (an inner interval join emits each pair in
    # exactly one micro-batch — the watermark only gates state
    # eviction). No sink view is ever registered, so there is nothing
    # to leak (the r12 accumulated-session-state class stays closed).
    partials: list = []

    def _census_batch(batch_df: DataFrame, _batch_id: int) -> None:
        partials.extend(
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("gap_us").alias("gap_us_sum"),
            )
            .collect()
        )

    # ONE micro-batch: the availableNow trigger reads the whole events
    # file into batch 0, and an inner interval join emits each pair in
    # the data batch where the pair's later row arrives — so the data
    # batches already hold every pair. The trailing no-data batch would
    # only advance the watermark and evict state from a checkpoint this
    # drain throws away at termination (recentProgress at sf0.01 on 4
    # cores: the no-data batch took 0.52-0.69 s of a 1.9-2.3 s drain).
    # Only THIS drain may skip it: append-mode windows, outer joins and
    # dropDuplicatesWithinWatermark emit or drop rows on watermark
    # advance, so run_stream_to_memory and the upsert drain keep their
    # no-data batches.
    # NO cached state version: the HDFS state-store provider keeps the
    # last maxBatchesToRetainInMemory (default 2) committed maps in
    # memory until its 60 s maintenance tick unloads them, and in local
    # mode that memory is the driver's heap. A stream-stream join's
    # state is every input row (20,000 at sf0.01, 200,000 at sf0.1), so
    # each call left 4.7 MiB (sf0.01) / 43.9 MiB (sf0.1) behind, cached
    # for a next batch this one-batch drain over a discarded checkpoint
    # never runs. With 0 the map is dropped at commit (measured 0.6-0.7
    # MiB per sf0.1 call; wall and plans unchanged). NEGATIVE for the
    # two-batch drains: their agg state is tiny, so the upsert drain
    # retains 0.15-0.6 MiB per sf0.1 call either way, and without the
    # cache its no-data batch reloads the version the data batch just
    # committed from the checkpoint files (one non-interleaved run read
    # 2.9-4.2 s against 2.15-2.35 s) — keep the default there.
    # Both confs are read once, at start().
    with _drain_shuffle_partitions(
        spark, f"{sf_dir}/events.parquet"
    ), scoped_conf(
        spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"
    ), scoped_conf(
        spark, "spark.sql.streaming.maxBatchesToRetainInMemory", "0"
    ):
        q = (
            stream_range_join(spark, sf_dir)
            .writeStream.foreachBatch(_census_batch)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                "stream-join census drain did not finish within 120s"
            )

    merged: dict[int, list[int]] = {}
    for r in partials:
        acc = merged.setdefault(r["user_id"], [0, 0])
        acc[0] += r["n_pairs"]
        acc[1] += r["gap_us_sum"]
    users = sorted(merged)
    # an int64 Arrow table becomes a LocalTableScan; a Python row list
    # would be pickled into an RDD whose every execution runs
    # Python-worker tasks (tables.materialize_local)
    census = pa.table({
        "user_id": pa.array(users, pa.int64()),
        "n_pairs": pa.array([merged[u][0] for u in users], pa.int64()),
        "gap_us_sum": pa.array([merged[u][1] for u in users], pa.int64()),
    })
    return spark.createDataFrame(
        census, schema="user_id bigint, n_pairs bigint, gap_us_sum bigint"
    )
