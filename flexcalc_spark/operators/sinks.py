"""Sink and source round-trip keys: each writes a fixture table in one
format to a per-process scratch dir, reads it back and aggregates, so
the oracle checks the writer, the on-disk encoding and the reader, not
just the final group-by (SURVEY.md §2.2 lists sinks as "not graded";
these keys grade them anyway).

- Spark-native formats: lang-partitioned parquet (``q_sink_partitioned``,
  the at-rest layout of SURVEY §4.3.3) and its dynamic partition pruning
  (``q_dpp_prune``), csv, JSON lines, ORC, XML, small-file compaction,
  PERMISSIVE reads of a dirty csv, mergeSchema over evolved parquet, and
  nested-field pruning.
- Container formats Spark cannot read here (``q_source_avro``,
  ``q_source_warc``, ``q_source_archive``, ``q_source_jsonl_zst``): a
  pure-Python codec plus a row function and a pack function each.
  Writes go through ``binaryfiles.write_parts`` (one part file per
  partition) and reads through ``binaryfiles.map_files`` (one file
  decoded per call); ``_write_documents`` is their shared write step.

The storage-layout tests (tests/test_layouts.py) additionally assert
partition pruning against layouts like these; ``q_scan_*`` grades the
read side of plain parquet. Reference: flexcalc's
``batch.py::scheduler.write_data``, the batch pipeline's terminal write
node (R24); a partitioned layout is the Spark-native analogue of its
per-dataset output directories.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shutil
import tempfile
import time

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexcalc_spark.registry import register
from flexcalc_spark.tables import materialize_local, table

# Scratch layouts written by the sink/source keys. Every dir is
# pid-suffixed (r13): dirs are per-process, removed by this
# process's atexit hook, and an owner-liveness sweep reaps siblings a
# SIGKILLed process left behind (ADVICE r8 anti-litter + the r10
# SIGKILL-leak fix). Keys whose result is answer-sized materialize via
# tables.materialize_local before returning; only keys whose graded
# artifact is the read PLAN itself stay lazy (see that docstring).
_SCRATCH: set[str] = set()

# Stay-lazy keys re-collected hours later cannot refresh mtime (no
# Python runs at re-collect — the plan is a JVM binaryFile scan), so an
# age floor alone races their layouts (ADVICE r13). The dir name now
# carries the owner pid (`_p<pid>` suffix); the sweep NEVER reaps a dir
# whose owner is alive, reaps dead-owner dirs after a short floor, and
# falls back to the old 6 h rule only for legacy unsuffixed names. Pid
# reuse can only KEEP garbage longer (kill(pid, 0) says alive), never
# delete a live layout — the safe direction.
_PID_SUFFIX = re.compile(r"_p(\d+)$")

# the documents table as every round-trip key reads it back
_DOCUMENTS_DDL = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def _owner_alive(path: str) -> bool | None:
    """Owner pid liveness from the `_p<pid>` name suffix; None when the
    name carries no pid (legacy layout)."""
    m = _PID_SUFFIX.search(path)
    if not m:
        return None
    try:
        os.kill(int(m.group(1)), 0)
        return True
    except ProcessLookupError:
        return False
    except (PermissionError, OSError):
        return True  # exists but not ours — treat as alive (safe)


def _scratch_dir(tag: str, sf_dir: str, fingerprint: str = "") -> str:
    """This process's scratch dir for ``tag`` over ``sf_dir``, named
    with an ``_p<pid>`` suffix and removed at exit; ``fingerprint``
    (a source stamp) also goes into the name. Each call sweeps stale
    siblings a SIGKILLed run left behind — atexit does not fire on
    SIGKILL (r10 review finding)."""
    h = hashlib.md5(
        (os.path.abspath(sf_dir) + "\0" + fingerprint).encode()
    ).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"flexcalc_spark_{tag}_{h}_p{os.getpid()}"
    )
    now = time.time()
    for p in glob.glob(
        os.path.join(tempfile.gettempdir(), f"flexcalc_spark_{tag}_*")
    ):
        if p == out or p in _SCRATCH:
            continue
        try:
            alive = _owner_alive(p)
            age = now - os.path.getmtime(p)
            if alive is True:
                continue  # live owner: never reap, any age
            if (alive is False and age > 60) or (
                alive is None and age > 6 * 3600
            ):
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    if not _SCRATCH:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH]
        )
    _SCRATCH.add(out)
    return out


def _write_documents(spark: SparkSession, sf_dir: str, tag: str, write) -> str:
    """A fresh scratch dir holding ``documents`` as written by
    ``write(df, out_dir)`` from 4 doc_id partitions (4 container files
    at test scale; at real scale pick partitions by target file size).
    ``write`` returns the lazy (path, n_records) DataFrame of
    ``binaryfiles.write_parts``, collected here to force the write."""
    out = _scratch_dir(tag, sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    write(table(spark, sf_dir, "documents").repartition(4, "doc_id"), out).collect()
    return out


@register(
    "q_sink_partitioned",
    oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    family="sinks",
    scale_notes="partitioned parquet sink: partition columns become directories, so downstream per-language reads prune whole files (dynamic partition pruning at 100 TB); one file per (partition, task) — at scale, repartition by the partition column first so writers don't emit small files; overwrite mode makes the round-trip idempotent",
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents lang-partitioned, read the layout back, and
    aggregate per language — grades the writer round-trip, not just the
    group-by."""
    out = _scratch_dir("sink", sf_dir)
    d = table(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    r = spark.read.parquet(out)
    return materialize_local(
        r.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "q_dpp_prune",
    oracle="""
        WITH q4 AS (
            SELECT DISTINCT year(o_orderdate) * 100 + month(o_orderdate)
                       AS sm
            FROM orders WHERE quarter(o_orderdate) = 4
        )
        SELECT CAST(sm AS BIGINT) AS ship_month,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               ROUND(CAST(SUM(CAST(FLOOR(l_quantity * 1000000.0 + 0.5)
                                   AS BIGINT)) AS DOUBLE)
                     / 1000000.0, 4) AS sum_qty
        FROM (SELECT year(l_shipdate) * 100 + month(l_shipdate) AS sm,
                     l_quantity
              FROM lineitem) f
        JOIN q4 USING (sm)
        GROUP BY sm
    """,
    family="sinks",
    scale_notes=(
        "dynamic partition pruning, graded end-to-end: the fact is "
        "written partitioned by ship-month (the q_sink_partitioned "
        "layout), then joined to a filtered months dim derived from "
        "orders — Catalyst plants a DynamicPruningExpression subquery "
        "in the fact scan's PartitionFilters (plan-asserted in "
        "tests/test_plans.py), so only the ~25% of partition "
        "directories whose month survives the dim filter are LISTED, "
        "let alone read. At 100 TB this is the difference between "
        "scanning the full fact and scanning one quarter per year: "
        "the dim broadcast executes first and its month set prunes "
        "file listing at the source. The oracle runs the identical "
        "join over the unpartitioned table, so the hash also "
        "certifies the partitioned round-trip loses no rows"
    ),
)
def q_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ship-month-partitioned fact joined to a Q4-months dim (derived
    from orders): grades dynamic partition pruning + the partitioned
    layout round-trip (ship_month, n_lines, sum_qty)."""
    # the graded operation here is the PRUNED READ, not the writer
    # (q_sink_partitioned grades that) — so when this layout already
    # exists from an earlier call in this process, reuse it instead of
    # rewriting the full fact copy every invocation. The dir name is
    # keyed by the SOURCE parquet's (mtime, size) AND the pid (ADVICE
    # r9): fixtures regenerate between rounds at the same sf_dir path,
    # so a _SUCCESS left behind by a SIGKILLed process must never be
    # mistaken for fresh data, and the pid key keeps one process's
    # atexit cleanup from deleting the layout under a concurrent reader.
    st = os.stat(os.path.join(sf_dir, "lineitem.parquet"))
    out = _scratch_dir(
        "dpp", sf_dir,
        fingerprint=f"{st.st_mtime_ns}:{st.st_size}",
    )
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        # refresh the layout's mtime on reuse: the returned read is
        # LAZY (the graded artifact is the pruned-scan plan), and a
        # sibling process's 6 h age-floored sweep must not reap a
        # layout a live session still reads (r13 review)
        os.utime(out, None)
    else:
        li = table(spark, sf_dir, "lineitem").select(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("sm"),
            "l_quantity",
        )
        # one writer task per partition dir (the q_sink_partitioned
        # small-files rule)
        li.repartition("sm").write.mode("overwrite").partitionBy(
            "sm"
        ).parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        table(spark, sf_dir, "orders")
        .filter(F.quarter("o_orderdate") == 4)
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .alias("sm")
        )
        .distinct()
    )
    return (
        fact.join(dim, "sm")
        .groupBy("sm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            (
                F.round(
                    F.sum(
                        F.floor(F.col("l_quantity") * 1_000_000.0 + 0.5)
                        .cast("bigint")
                    ).cast("double")
                    / 1_000_000.0,
                    4,
                )
            ).alias("sum_qty"),
        )
        .select(
            F.col("sm").cast("bigint").alias("ship_month"),
            "n_lines",
            "sum_qty",
        )
    )


@register(
    "q_sink_csv",
    oracle="""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_chars
        FROM documents
        GROUP BY source
    """,
    family="sinks",
    scale_notes="csv sink round-trip (the §2.2 sink row names parquet/csv): header + explicit read schema (schema inference would add a full extra pass over 100 TB and can drift types); text length aggregated after the round-trip proves value fidelity through quoting/escaping, not just row counts. CSV is the interchange sink — columnar parquet remains the at-rest layout",
)
def q_sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as CSV (header), read back with an explicit
    schema, and aggregate text lengths per source — grades the full
    text-safe round-trip through the csv writer/parser."""
    out = _scratch_dir("sink_csv", sf_dir)
    d = table(spark, sf_dir, "documents")
    d.write.mode("overwrite").option("header", True).csv(out)
    r = spark.read.schema(_DOCUMENTS_DDL).option("header", True).csv(out)
    return materialize_local(
        r.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint")
            .alias("total_text_chars"),
        )
    )


@register(
    "q_source_json",
    oracle="""
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_chars
        FROM documents
        GROUP BY source, lang
    """,
    family="sinks",
    scale_notes=(
        "JSON-lines source round-trip (the interchange INGEST format of "
        "every scraped-corpus pipeline: one JSON object per line): write "
        "documents as json, read back with an EXPLICIT schema (schema "
        "inference would cost a full extra pass over 100 TB and drifts "
        "types across files), aggregate per (source, lang) after the "
        "round-trip so string-escaping fidelity (quotes, unicode, "
        "newlines-in-text) is what the oracle checks. JSON line splits "
        "are newline-framed so the reader parallelizes per HDFS block "
        "like any text source"
    ),
)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as JSON lines, read back with an explicit schema,
    and aggregate per (source, lang) — grades the JSON source/sink
    round-trip through string escaping, not just row counts."""
    out = _scratch_dir("srcjson", sf_dir)
    d = table(spark, sf_dir, "documents")
    d.write.mode("overwrite").json(out)
    r = spark.read.schema(_DOCUMENTS_DDL).json(out)
    return r.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_chars"),
    )


@register(
    "q_source_orc",
    oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    family="sinks",
    scale_notes=(
        "ORC source/sink round-trip: the second columnar at-rest format "
        "(predicate pushdown + column pruning work the same as parquet "
        "through the DataSource V2 scan), so corpora inherited from "
        "Hive/Trino estates read natively with no conversion pass. "
        "Explicit schema on read — same no-inference rule as csv/json"
    ),
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as ORC, read back, and aggregate per language —
    grades the ORC round-trip (the Hive-estate interchange format)."""
    out = _scratch_dir("srcorc", sf_dir)
    d = table(spark, sf_dir, "documents")
    d.write.mode("overwrite").orc(out)
    r = spark.read.schema(_DOCUMENTS_DDL).orc(out)
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "q_sink_compacted",
    oracle="""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY source
    """,
    family="sinks",
    scale_notes=(
        "small-file compaction: repartition(4) before the write bounds "
        "the layout to exactly 4 files regardless of the upstream task "
        "count — the operational fix for the many-small-files failure "
        "mode of 100 TB ingest (a layout test asserts the file count). "
        "At scale, pair with maxRecordsPerFile so one writer task "
        "rolls files at a target size instead of one giant file, and "
        "repartition BY the table's partition column so each writer "
        "owns whole output directories"
    ),
)
def q_sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact documents into exactly 4 parquet files (repartition
    before write), read the compacted layout back, and aggregate —
    grades the compaction round-trip."""
    out = _scratch_dir("sink_compact", sf_dir)
    d = table(spark, sf_dir, "documents")
    d.repartition(4).write.mode("overwrite").parquet(out)
    r = spark.read.parquet(out)
    return materialize_local(
        r.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "q_source_csv_dirty",
    oracle="""
        SELECT CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bad,
               ROUND(CAST(SUM(CASE WHEN o_orderkey % 13 <> 0
                     THEN CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)
                     ELSE 0 END) AS DOUBLE) / 1000000.0, 4) AS sum_price_good
        FROM orders
    """,
    family="sinks",
    scale_notes=(
        "malformed-record ingestion (every real scraped/exported CSV "
        "feed has broken lines): rows are parsed PERMISSIVE with a "
        "corrupt-record column, so one bad line quarantines itself "
        "instead of failing a 100 TB load (FAILFAST) or silently "
        "vanishing (DROPMALFORMED). The bad-row census and the "
        "good-row aggregate come from the same single read; the "
        "corruption here is derived deterministically (orderkey % 13 "
        "price replaced by a non-numeric token) so the oracle can "
        "recompute the expected split from the clean table. Corrupt "
        "raw lines land in a quarantine column ready to sink to a "
        "dead-letter path"
    ),
)
def q_source_csv_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a deliberately-dirty CSV (every 13th order's price is
    'N/A'), read it back PERMISSIVE with a corrupt-record column, and
    report good/bad row counts plus the parsed-price sum."""
    out = _scratch_dir("srccsvdirty", sf_dir)
    o = table(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("N/A")).otherwise(
            F.col("o_totalprice").cast("string")
        ),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    r = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, o_totalprice double,"
            " _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    bad = F.col("_corrupt").isNotNull()
    return materialize_local(r.agg(
        F.sum(F.when(~bad, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_bad"),
        F.round(
            F.sum(
                F.when(
                    ~bad,
                    F.floor(F.col("o_totalprice") * 1_000_000.0 + 0.5).cast(
                        "bigint"
                    ),
                ).otherwise(0)
            ).cast("double")
            / 1_000_000.0,
            4,
        ).alias("sum_price_good"),
    ))


@register(
    "q_source_xml",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_chars
        FROM documents
        GROUP BY lang, source
    """,
    family="sinks",
    scale_notes=(
        "XML source/sink round-trip (Spark 4 ships the former "
        "spark-xml as a built-in): write documents as row-tagged XML, "
        "read back with an EXPLICIT schema (inference would cost an "
        "extra full pass), aggregate per (lang, source) after the trip "
        "so entity-escaping fidelity is what the oracle checks. XML is "
        "the interchange format of legacy archives/feeds (PubMed, "
        "Wikipedia dumps, SEC filings) that corpus pipelines still "
        "ingest at TB scale; row tags frame record splits so the "
        "reader parallelizes per input split like any text source"
    ),
)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as row-tagged XML, read back with an explicit
    schema, aggregate per (lang, source) — grades the XML round-trip
    through entity escaping."""
    out = _scratch_dir("srcxml", sf_dir)
    d = table(spark, sf_dir, "documents")
    (
        d.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(out)
    )
    r = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(_DOCUMENTS_DDL)
        .load(out)
    )
    return materialize_local(
        r.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.length("text")).cast("bigint")
            .alias("total_text_chars"),
        )
    )


@register(
    "q_source_evolving",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_priority,
               CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1
                                        THEN o_orderpriority END)
                    AS BIGINT) AS n_priorities,
               ROUND(CAST(SUM(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                                   AS BIGINT)) AS DOUBLE) / 1000000.0, 4)
                   AS sum_price
        FROM orders
    """,
    family="sinks",
    scale_notes=(
        "schema evolution on read (mergeSchema): a table written over "
        "time by producers whose schema GREW (batch 1 lacks the column "
        "batch 2 added) must read as one unified relation with NULLs "
        "for the missing column — the default per-file footer read "
        "would silently pick one schema. This is every long-lived "
        "ingest directory at 100 TB; the cost is a footer-merge "
        "planning pass, not a data pass, and explicit schemas remain "
        "the hot-path rule (the merge is for discovery/backfill "
        "tooling). The oracle recomputes the expected unified census "
        "from the source table"
    ),
)
def q_source_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write two parquet batches with EVOLVED schemas (batch 2 adds
    o_orderpriority), read with mergeSchema, and census the unified
    relation."""
    out = _scratch_dir("srcevolve", sf_dir)
    o = table(spark, sf_dir, "orders")
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "b1"))
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "b2"))
    )
    r = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out, "b1"), os.path.join(out, "b2"))
    )
    return materialize_local(r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_with_priority"),
        F.countDistinct("o_orderpriority").cast("bigint").alias(
            "n_priorities"
        ),
        F.round(
            F.sum(
                F.floor(F.col("o_totalprice") * 1_000_000.0 + 0.5).cast(
                    "bigint"
                )
            ).cast("double")
            / 1_000_000.0,
            4,
        ).alias("sum_price"),
    ))


@register(
    "q_source_nested",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k
        FROM events GROUP BY event_type
    """,
    family="sinks",
    scale_notes=(
        "nested-schema parquet round-trip with NESTED-FIELD PRUNING: "
        "the table is rewritten with a struct column (meta.k BIGINT, "
        "meta.v DOUBLE) and the read-back query touches only meta.k — "
        "Catalyst's nested schema pruning pushes the LEAF selection "
        "into the scan (plan-asserted: ReadSchema carries meta.k but "
        "not meta.v), so a 100 TB table of fat structs reads only the "
        "leaves a query needs, the same column-pruning economics flat "
        "columns get. Struct encoding beats JSON strings at rest "
        "(typed pages, no per-row parse — q_map_json grades the parse "
        "path this one makes unnecessary)"
    ),
)
def q_source_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as nested-struct parquet and aggregate meta.k per
    type from the read-back — grades the nested encode/decode and
    leaf pruning."""
    out = _scratch_dir("srcnested", sf_dir)
    e = table(spark, sf_dir, "events")
    nested = e.select(
        "event_id",
        "event_type",
        F.struct(
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.col("value").alias("v"),
        ).alias("meta"),
    )
    nested.write.mode("overwrite").parquet(out)
    r = spark.read.parquet(out)
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("meta.k")).cast("bigint").alias("sum_k"),
    )


@register(
    "q_source_avro",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_chars
        FROM documents
        GROUP BY lang, source
    """,
    family="sinks",
    scale_notes=(
        "Avro round-trip WITHOUT the spark-avro jar (an external Spark "
        "module, not loadable offline): sources/avrocodec.py is a "
        "pure-Python implementation of the public Avro 1.12 spec (full "
        "type system, container files, all six spec codecs; snappy and "
        "zstandard run on the libsnappy/libzstd that pyarrow bundles), "
        "cross-verified record-exact BOTH directions against the "
        "official Java implementation on Spark's own classpath "
        "(avro-1.12.1.jar via py4j, tests/test_avro.py). Write: one "
        "container per partition from executors (binaryfiles."
        "write_parts, partition-id-keyed names so speculative re-runs "
        "stay idempotent); read: binaryFile scan + one container "
        "decoded per binaryfiles.map_files call, parallelism = file "
        "count — the natural Avro unit, since producers roll files on "
        "time/size. At 100 TB plug fastavro (C) into the same map_files "
        "seam for ~50x decode, or swap "
        "spark.read.format('avro') where the jar exists; this plan is "
        "the dependency-free fallback with identical semantics. The "
        "aggregate grades id/text/char fidelity per (lang, source) "
        "through the trip, including unicode through utf-8 and the "
        "null-union path"
    ),
)
def q_source_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as Avro object-container files (pure-Python
    codec, deflate), read them back distributed, and aggregate per
    (lang, source) — grades the full round-trip against the parquet
    oracle."""
    from flexcalc_spark.sources import avrocodec as av

    schema = {
        "type": "record",
        "name": "Document",
        "namespace": "flexcalc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": ["null", "string"]},
            {"name": "lang", "type": "string"},
            {"name": "source", "type": "string"},
            {"name": "n_chars", "type": "long"},
        ],
    }
    out = _write_documents(
        spark, sf_dir, "srcavro", partial(av.write_avro, schema=schema))
    r = av.read_avro(spark, out, _DOCUMENTS_DDL)
    # stays LAZY: the binaryFile+Arrow plan shape is itself asserted
    # (test_container_sources_are_binaryfile_plus_arrow); the dir is
    # pid-suffixed and fresh within any plausible grading window
    return r.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_chars"),
    )


@register(
    "q_source_warc",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(COALESCE(SUM(LENGTH(TRIM(
                        REGEXP_REPLACE(text, '[\\t\\n\\r\\f\\v ]+', ' ',
                                       'g'),
                        ' ' || chr(9) || chr(10) || chr(13) || chr(12)
                            || chr(11)))), 0)
                    AS BIGINT) AS total_text_chars
        FROM documents
        GROUP BY lang, source
    """,
    family="sinks",
    scale_notes=(
        "WARC ingest — the CommonCrawl container, i.e. what a real "
        "100 TB LLM-pretraining crawl actually arrives as. "
        "sources/warc.py implements the public ISO 28500 grammar plus "
        "the per-record-gzip-member CommonCrawl compression convention "
        "(member walk via zlib unused_data, cross-checked against "
        "stdlib gzip's member concatenation), HTTP response payload "
        "split, and deterministic HTML->text extraction (script/style "
        "subtree drop, tag strip, entity unescape, whitespace "
        "collapse). The round-trip: every document becomes an "
        "HTML-wrapped HTTP response record (with a live script tag "
        "containing a bare '<' so the extraction path is actually "
        "load-bearing), one .warc.gz per partition from executors "
        "(binaryfiles.write_parts), binaryFile + one file parsed per "
        "binaryfiles.map_files call back, (lang, source, doc_id) "
        "recovered from the Target-URI. The oracle recomputes the "
        "extracted-text census from the source table (whitespace "
        "normalization mirrored in SQL), so tag-stripping fidelity is "
        "what the hash grades. File-granular parallelism like every "
        "container source here; CommonCrawl ships ~1 GB segments so "
        "file count IS the parallelism at 100 TB"
    ),
)
def q_source_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as CommonCrawl-convention .warc.gz (HTML-wrapped
    HTTP responses), read them back distributed, extract text, and
    aggregate per (lang, source) — grades the full crawl-ingest path."""
    from flexcalc_spark.sources import warc as wc

    out = _write_documents(spark, sf_dir, "srcwarc", wc.write_warc_partitions)
    r = wc.read_warc(spark, out)
    parts = F.split(F.col("uri"), "/")
    parsed = r.select(
        F.element_at(parts, -3).alias("source"),
        F.element_at(parts, -2).alias("lang"),
        F.element_at(parts, -1).cast("bigint").alias("doc_id"),
        F.length("text").alias("text_chars"),
    )
    # stays LAZY: plan shape asserted (see q_source_avro note)
    return parsed.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("text_chars").cast("bigint").alias("total_text_chars"),
    )


@register(
    "q_source_archive",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(COALESCE(SUM(LENGTH(text)), 0) AS BIGINT)
                   AS total_chars
        FROM documents
        GROUP BY lang, source
    """,
    family="sinks",
    scale_notes=(
        "small-file packing, implemented end-to-end instead of stated "
        "as advice: documents pack into tar archives (one per "
        "partition via binaryfiles.write_parts, deterministic headers), "
        "the read side expands "
        "members via binaryfiles.expand_archives (stdlib tar/zip over "
        "in-memory blobs, magic-byte dispatch) — so a corpus of "
        "millions of tiny files ships as thousands of archives, "
        "listing cost is per-archive, and members never hit the "
        "object-store namespace. THIS is the documented fix for the "
        "binaryFile small-file failure mode at 100 TB (the TIFF/JPEG "
        "scale notes point here). The aggregate grades member-naming "
        "and byte fidelity per (lang, source) through the pack/expand "
        "trip; NULL text packs as an empty member (0 chars, matching "
        "the oracle's NULL-skipping SUM)"
    ),
)
def q_source_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into per-partition tar archives, expand the
    members back distributed, and aggregate per (lang, source) —
    grades the small-file packing round-trip."""
    from flexcalc_spark.sources.binaryfiles import (
        expand_archives,
        read_binary_dir,
        write_parts,
    )

    out = _write_documents(
        spark, sf_dir, "srcarch",
        lambda d, out: write_parts(d, out, ".tar", _tar_members, _tar_bytes),
    )
    members = expand_archives(read_binary_dir(spark, out, "*.tar"))
    # one split, zero regexes per row (the q_source_warc idiom)
    parts = F.split(F.col("member"), "/")
    parsed = members.select(
        F.element_at(parts, 1).alias("source"),
        F.element_at(parts, 2).alias("lang"),
        F.split(F.element_at(parts, 3), "\\.").getItem(0)
        .cast("bigint").alias("doc_id"),
        F.length(F.col("content").cast("string")).alias("n_chars"),
    )
    # stays LAZY: plan shape asserted (see q_source_avro note)
    return parsed.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def _tar_members(pdf) -> list[tuple[str, bytes]]:
    """One documents batch as (member name, utf-8 text) pairs."""
    return [
        (f"{row.source}/{row.lang}/{int(row.doc_id)}.txt",
         ("" if row.text is None else str(row.text)).encode("utf-8"))
        for row in pdf.itertuples(index=False)
    ]


def _tar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    """A plain tar of the members, with deterministic headers."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            info.mtime = 0  # deterministic archive bytes
            tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


@register(
    "q_source_jsonl_zst",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_chars
        FROM documents
        GROUP BY lang, source
    """,
    family="sinks",
    scale_notes=(
        "zstd-compressed JSONL shards — the layout public LLM corpora "
        "actually ship as (the Pile / RedPajama / Dolma convention: a "
        "directory of ~100 MB-1 GB .jsonl.zst files). Vanilla Spark "
        "cannot read them: the Hadoop ZStandardCodec behind "
        "spark.read.text('*.zst') requires the NATIVE hadoop+libzstd "
        "build (absent in JVM-only deployments — this container's "
        "NativeCodeLoader warning), so this path is binaryFile + the "
        "libzstd that pyarrow bundles (sources/zstdcodec.py, "
        "cross-verified against zstd-jni) in one decompress-and-split "
        "per shard (binaryfiles.map_files), capped mid-decode by the shared "
        "untrusted-bytes output bound; the JSON parse then runs "
        "JVM-side via from_json inside codegen, never in Python. "
        "Writes are libzstd level-1 frames carrying a content "
        "checksum, one shard per partition via binaryfiles.write_parts "
        "(attempt-unique temp + rename); the read "
        "side handles any conforming frame — a zstd-jni level-3 shard "
        "is part of the round-trip test. File-granular parallelism like every "
        "container source here: shard count IS the parallelism, and "
        "a 100 TB corpus arrives as ~100k shards. Swap the JVM codec "
        "(zstd-jni via a Hadoop native build) into the same seam "
        "where available; semantics identical"
    ),
)
def q_source_jsonl_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as .jsonl.zst shards (one per partition), read
    them back distributed (pyarrow's libzstd decompress, JVM-side JSON
    parse), and aggregate per (lang, source) — grades the full
    compressed-shard round-trip against the parquet oracle."""
    from flexcalc_spark.sources.binaryfiles import write_parts

    out = _write_documents(
        spark, sf_dir, "srcjzst",
        lambda d, out: write_parts(d, out, ".jsonl.zst", _json_lines, _zst_shard),
    )
    r = read_jsonl_zst(spark, out, _DOCUMENTS_DDL)
    return materialize_local(
        r.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.length("text")).cast("bigint")
            .alias("total_text_chars"),
        )
    )


def _json_lines(pdf) -> list[str]:
    """One documents batch as JSON lines. EVERY field null-guards via
    pd.isna, not just text: str(None) would write the 4-char string
    "None" where the oracle sees SQL NULL, and a null BIGINT arrives as
    float NaN in pandas (int(NaN) raises) — a fixture regen that nulls
    any column must round-trip as JSON null (pinned by the engineered
    null-fields micro-corpus test)."""
    import json

    import pandas as pd

    def val(v, cast):
        return None if pd.isna(v) else cast(v)

    return [
        json.dumps(
            {
                "doc_id": val(row.doc_id, int),
                "text": val(row.text, str),
                "lang": val(row.lang, str),
                "source": val(row.source, str),
                "n_chars": val(row.n_chars, int),
            },
            ensure_ascii=False, sort_keys=True, separators=(",", ":"),
        )
        for row in pdf.itertuples(index=False)
    ]


def _zst_shard(lines: list[str]) -> bytes:
    """Newline-framed lines as one libzstd level-1 frame."""
    from flexcalc_spark.sources import zstdcodec

    return zstdcodec.compress(("\n".join(lines) + "\n").encode("utf-8"))


def _zst_lines(path: str, blob: bytes) -> list[str]:
    """One shard's JSON lines: decompress, split on explicit newline
    framing — NEVER splitlines(): JSON string values legally contain
    unescaped U+2028/U+2029/U+0085 under ensure_ascii=False, and
    splitlines() breaks on those too, so one record would shatter into
    two unparseable fragments. \r is always \\-escaped inside JSON
    strings, so rstrip only eats \r\n framing, never content."""
    from flexcalc_spark.sources import zstdcodec

    # Hard output ceiling for untrusted shards: a no-FCS streaming frame
    # is otherwise only format-bounded at ~32768x input (policy:
    # zstdcodec.untrusted_max_output).
    text = zstdcodec.decompress(
        blob, max_output=zstdcodec.untrusted_max_output(len(blob))
    ).decode("utf-8")
    return [y for x in text.split("\n") if (y := x.rstrip("\r"))]


def _parse_zst_content(content_df: DataFrame, schema: str) -> DataFrame:
    """Shared decompress-split-parse tail for the batch AND streaming
    shard readers (one definition so a schema/parse change can never
    diverge the batch/stream equivalence the tests pin): per-shard zstd
    decompress + line split, then JVM-side from_json."""
    from flexcalc_spark.sources.binaryfiles import map_files

    lines = map_files(content_df, "line string", _zst_lines)
    return lines.select(
        F.from_json(F.col("line"), schema).alias("j")
    ).select("j.*")


def read_jsonl_zst(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Directory of ``.jsonl.zst`` shards -> DataFrame of ``schema``:
    binaryFile scan, per-shard libzstd decompress + line split (the
    only Python step), then JVM-side from_json — the parse stays inside
    whole-stage codegen. Accepts any conforming zstd frames — shards
    from external tools, not just our own writes (a zstd-jni level-3
    shard is part of the round-trip tests)."""
    from flexcalc_spark.sources.binaryfiles import read_binary_dir

    return _parse_zst_content(read_binary_dir(spark, path, "*.jsonl.zst"), schema)


def stream_jsonl_zst(spark: SparkSession, path: str, schema: str):
    """STREAMING shard ingest: the same decompress-split-parse over
    ``readStream(binaryFile)`` — a live corpus directory is consumed
    incrementally (each newly-landed .jsonl.zst shard becomes a
    micro-batch), which is how a continuously-written pretraining
    corpus arrives in practice. Stateless parse, so append mode;
    equality with the batch reader is pinned in
    tests/test_streaming.py (the stream_warc precedent)."""
    from flexcalc_spark.sources.binaryfiles import stream_binary_dir

    return _parse_zst_content(stream_binary_dir(spark, path, "*.jsonl.zst"), schema)
