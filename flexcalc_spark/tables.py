"""Fixture-table access (SURVEY.md §1.2, FIXTURES.md).

``table(spark, sf_dir, name)`` is the single scan entry point for every
query. It owns two cross-cutting concerns:

1. ``events.ts`` physical type has changed across fixture generations
   (TIMESTAMP(NANOS) int64 in rounds 1-2, timestamp[us] TIMESTAMP_NTZ
   from round 3). ``epoch_us_col`` dispatches on the ACTUAL read schema
   and always yields BIGINT epoch microseconds — via integer division
   for the legacy nanos-long read, or a timezone-free ``timestampdiff``
   against the NTZ epoch for the micros read (session-timezone
   independent, matches DuckDB ``epoch_us(ts)`` bit-for-bit). Derived
   integer columns (``ts_us``, ``ts_sec``) are what queries consume —
   integer epoch math is exact and engine-portable (SURVEY §2.2
   determinism rules).

2. Explicit scans per table, so Catalyst sees a plain parquet relation
   and pushdown/pruning work untouched. At 100 TB the same call site is
   where partitioned layouts (lineitem by ship-month, events by day)
   would be mounted — the query code is layout-agnostic.
"""

from __future__ import annotations

import os
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# whether the cached-plan AQE conf failure has been warned about (the
# conf itself is re-set per scan — it is session-scoped and idempotent)
_AQE_CONF_WARNED = False

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# events.ts integer epoch derivations, shared by every event-time query.
NS_PER_US = 1_000
NS_PER_SEC = 1_000_000_000

# Per-session memo, one store for scans and analyzed plans:
# spark.read.parquet costs ~95-135 ms per call (py4j + DataSource
# resolution + file listing + footer schema read, measured sf0.1 r14)
# and multi-table keys pay it per table per construction; the LSH
# literal banks cost ~0.7-0.9 s of Catalyst analysis per build (r15).
# DataFrames are immutable, so a resolved scan or a built LAZY plan can
# be handed out again as long as (a) the session is the same live
# object (a stopped session's plans must never leak into its
# successor) and (b) the files underneath have not changed (the
# signature below; tests rewrite tmp fixture dirs in place). The memo
# dict lives as an ATTRIBUTE on the session object, not in a
# module-level registry: a WeakKeyDictionary would never evict, because
# its values (DataFrames) hold a strong reference to their session —
# the classic weak-dict value-pins-key cycle, verified live in r14 —
# whereas a session-attribute dict is a pure cycle the collector frees
# with the session once the caller drops it. At the cap only the
# OLDEST entry is dropped (FIFO), never the whole store.
# Self-joins of a memoized scan are safe: Catalyst's relation
# deduplication assigns the right side fresh attribute ids, and
# ambiguous object-column conditions fail loudly under the default
# failAmbiguousSelfJoin — the full verify sweep covers every key.
_MEMO_ATTR = "_flexcalc_memo"
_MEMO_MAX = 512  # tmp-dir tests could otherwise grow it unbounded


def _session_live(spark: SparkSession) -> bool:
    """False once the underlying SparkContext is stopped (stop() nulls
    _jsc). A stopped session's plans are useless to everyone — never
    memoize on one, and never serve from one."""
    try:
        return spark.sparkContext._jsc is not None
    except Exception:
        return False


def _path_sig(path: str):
    """Staleness token for a parquet file or directory tree: (relpath,
    mtime_ns, size, inode) of every file, RECURSIVELY — partitioned
    layouts (day=.../part-*.parquet) change only a nested file when
    rewritten in place, so a direct-children-only listing would serve a
    stale snapshot. The inode catches same-size rewrites that preserve
    mtime (os.replace of a pre-written file, cp -p). ~36 µs on the
    flat fixture dirs — three orders of magnitude below the read it
    saves. None = not statable; caller skips the memo and lets Spark
    raise its own error."""
    def _raise(err: OSError) -> None:
        # os.walk swallows listing errors by default — an unlistable
        # subdir would otherwise yield a PARTIAL signature that gets
        # memoized and never changes (r14 second review pass). Raising
        # restores the None contract below.
        raise err

    try:
        if os.path.islink(path):
            return None  # symlinked fixtures: never memoize
        if os.path.isdir(path):
            sig = []
            for root, dirs, files in os.walk(path, onerror=_raise):
                for d in dirs:
                    if os.path.islink(os.path.join(root, d)):
                        # walk does not descend into symlinked dirs, so
                        # rewrites behind one would be invisible to the
                        # signature — skip the memo for such layouts
                        return None
                rel = os.path.relpath(root, path)
                for fname in files:
                    full = os.path.join(root, fname)
                    if os.path.islink(full):
                        return None  # target can change without a stat delta here
                    st = os.stat(full)
                    sig.append((
                        os.path.join(rel, fname),
                        st.st_mtime_ns, st.st_size, st.st_ino,
                    ))
            return tuple(sorted(sig))
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        return None


def _memo(spark: SparkSession, key: tuple, dep_path: str, build):
    """``build()``'s result, memoized in the session's store under
    ``key`` plus the staleness signature of ``dep_path``. An unstatable
    path or a stopped session skips the memo (``build()`` as-is)."""
    sig = _path_sig(dep_path)
    if sig is None or not _session_live(spark):
        return build()
    memo = vars(spark).setdefault(_MEMO_ATTR, {})
    key = (*key, sig)
    val = memo.get(key)
    if val is None:
        if len(memo) >= _MEMO_MAX:
            memo.pop(next(iter(memo)))
        val = build()
        memo[key] = val
    return val


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table as a plain parquet DataFrame."""
    # Let AQE size the output layout of CACHED plans (off by default).
    # Without it, an InMemoryRelation materializes the building plan's
    # raw shuffle layout — under a vanilla 200-partition session every
    # consumer of a groupBy/join-derived cache pays hundreds of
    # near-empty tasks (the round-7 q_market_basket lesson; the
    # repartition-before-cache rule is the manual workaround). With it,
    # AQE coalesces the cached layout the same way it does any other
    # shuffle. Measured on q_pagerank sf0.1 (the A/B protocol now in
    # scripts/probe.py --ab, BASELINE.md round-9): plain
    # cache goes 45.5 s -> 4.5 s under a 200-partition session, and
    # beats the explicit repartition(32, src) form 6.9 -> 4.5 s by
    # skipping its extra full-edge exchange; bench-session (8
    # partitions) times are unchanged within noise. Values are
    # partition-independent (integer fixed-point; determinism suite).
    # Explicit repartition(n, key) sites keep their user-specified
    # layout — AQE never coalesces a user-numbered repartition.
    # Set on every scan: the conf is SESSION-scoped (a newSession() on
    # the same context gets a fresh SQL conf, so any once-per-context
    # guard would silently skip it there — r10 review finding), and an
    # idempotent conf.set is a dict write, far below scan cost. WARN
    # once per process when it fails: q_pagerank's explicit
    # repartition-before-cache was removed on the strength of this
    # conf, so a silent failure would regress it to the measured 45 s
    # 200-partition cache hazard (ADVICE r9) — the warning makes that
    # failure diagnosable.
    global _AQE_CONF_WARNED
    try:
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    except Exception as exc:  # py4j wraps errors opaquely
        if not _AQE_CONF_WARNED:
            _AQE_CONF_WARNED = True
            warnings.warn(
                "could not set canChangeCachedPlanOutputPartitioning "
                f"({exc!r}): cached-plan layouts will keep the raw "
                "shuffle partition count — iterative keys (q_pagerank) "
                "may run with hundreds of near-empty tasks",
                RuntimeWarning,
                stacklevel=2,
            )
    if name == "events":
        # Session conf; safe to set repeatedly. Needed only when the file
        # stores TIMESTAMP(NANOS,false), which Spark cannot read natively;
        # harmless (ignored) for the micros encoding.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    path = f"{sf_dir}/{name}.parquet"
    return _memo(spark, ("scan", path), path, lambda: spark.read.parquet(path))


def session_plan_memo(spark: SparkSession, dep_path: str, tag: str, builder):
    """Session-scoped PLAN-construction memo — the scan memo's store,
    staleness and liveness rules applied to expensive built frames:
    ``builder()`` returns a LAZY DataFrame (or tuple of them) whose
    construction cost is analyzer work (e.g. the 64x64-literal LSH band
    banks); repeat calls in the same live session return the
    already-analyzed objects. NO results are captured: the frames stay
    lazy, every execution (localCheckpoint per query call, bench run,
    oracle run) computes from the parquet inputs. Keyed on (tag,
    dep_path, recursive file signature)."""
    return _memo(spark, ("plan", tag, dep_path), dep_path, builder)


def epoch_us_col(df: DataFrame) -> "F.Column":
    """BIGINT epoch-microseconds Column for ``df.ts``, whatever physical
    type the fixture generation used:

    - BIGINT (legacy TIMESTAMP(NANOS) read via nanosAsLong): ``ts div 1000``;
    - TIMESTAMP_NTZ (timestamp[us] parquet): wall-clock delta from the NTZ
      epoch — no session-timezone dependence, exact micros;
    - TIMESTAMP (LTZ, in case a session maps the file that way):
      ``unix_micros`` is already instant-based and timezone-free.
    """
    return epoch_us_of(df, "ts")


def epoch_us_of(df: DataFrame, col: str) -> "F.Column":
    """Schema-dispatched BIGINT epoch-µs for ANY timestamp-ish column
    (see epoch_us_col — same dispatch, parameterized column name)."""
    t = df.schema[col].dataType.typeName()
    if t in ("long", "bigint"):
        return F.expr(f"{col} div {NS_PER_US}")
    if t == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    return F.expr(f"unix_micros({col})")


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Context manager: set session conf ``key`` to ``value`` for the
    block and restore the caller's value afterwards, even when the
    block raises."""
    orig = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, orig)


def scoped_shuffle_partitions(spark: SparkSession, n: int | None = None):
    """Context manager: scope spark.sql.shuffle.partitions to ``n``
    (default: the core count) for an eager iterative section
    (localCheckpoint loops, availableNow stream drains). Checkpoints
    and state stores materialize the CURRENT shuffle layout verbatim —
    under a vanilla session's 200 partitions every loop round pays
    hundreds of near-empty tasks (measured: q_label_prop 2.3s -> 1.3s,
    q_kcore 3.7s -> 2.7s, stream-stream drain 23s -> 3s; r15 sizes
    stream drains by input bytes via ``n`` — see
    streaming/windows._drain_shuffle_partitions). Restores the
    caller's conf even on failure; batch plans built AFTER restore are
    unaffected (AQE coalesces their fresh shuffles)."""
    # explicit None check: n=0 must not silently mean "default"
    # (callers validate n >= 1; r15 review)
    if n is None:
        n = spark.sparkContext.defaultParallelism
    return scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))


def table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + repartition to the session's default parallelism.

    The fixture tables are single parquet files well under one 128 MB
    split, so Spark reads them as ONE partition — and every downstream
    per-row computation (minhash signatures, LSH projections, n-gram
    shingling) would run single-threaded. A cheap narrow-payload shuffle
    buys full-core parallelism for the compute-heavy stage. At 100 TB the
    input has thousands of row-group splits and this repartition becomes
    a no-op decision to revisit per layout — the call site marks exactly
    where compute parallelism matters.
    """
    df = table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def events_with_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events plus exact integer time columns.

    ts -> ts_us (µs) and ts_sec (s) as BIGINT epoch values: exact,
    monotone, and identical to DuckDB's epoch_us()/epoch() on the same
    file regardless of the fixture's physical timestamp encoding.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.withColumn("ts_us", epoch_us_col(e))
        .withColumn("ts_sec", F.expr("ts_us div 1000000"))
    )


def materialize_local(df: DataFrame) -> DataFrame:
    """Rebuild a SMALL result as a local DataFrame, so keys that read
    back from scratch dirs / memory sinks do not return lazy reads of
    state another process can delete first (shared sink dirs race a
    concurrent process's cleanup; fingerprinted dirs are exposed to
    the 6 h stale-sibling sweep — r13 review).

    The rows cross to the driver as ONE Arrow table (``toArrow``) and
    come back as a ``LocalTableScan`` (``createDataFrame`` of a
    ``pyarrow.Table``). The old ``createDataFrame(df.collect())`` form
    pickled the rows into a ``LogicalRDD``, so every later execution of
    the result ran Python-worker tasks to unpickle them (a grouped
    lineitem result at sf0.01 on 4 cores, materialize plus a noop
    write: median 366 ms for the pickled form, 110 ms for the Arrow
    form). Both calls are public API and honour ``schema``
    whatever the ``spark.sql.execution.arrow.pyspark.*`` settings or
    session time zone: NULLs stay NULL (no pandas NaN), and decimal,
    TIMESTAMP, TIMESTAMP_NTZ, binary, array and date columns come back
    with the input's types and values (tests/test_layouts.py pins
    both Arrow states under a non-UTC zone).

    Only for answer-sized results — NEVER for keys whose graded
    artifact is the read plan itself. The full stay-lazy list (each
    plan-test-asserted): q_dpp_prune (pruned scan), q_source_json /
    q_source_orc / q_source_nested (ReadSchema pruning), q_source_avro
    / q_source_warc / q_source_archive (binaryFile + Arrow decode
    shape).

    Lives here, not in operators/, so streaming modules can use it
    without pulling the whole operators package onto workers."""
    return df.sparkSession.createDataFrame(df.toArrow(), schema=df.schema)
