"""Corpus-curation operators (training-data pipeline; SURVEY §2.3
extension family): benchmark decontamination, target-mixture resampling,
incremental (batch-vs-corpus) dedup.

These are the three curation steps a production LLM-data pipeline runs
that the round-1 inventory did not yet cover:

- **Decontamination**: training documents that share token n-grams with
  an evaluation/benchmark set must be flagged (and usually dropped)
  before training. The benchmark side is always tiny relative to the
  corpus (MBs vs TBs), so the scale shape is: explode corpus shingles
  scan-side, equi-join against a BROADCAST benchmark-shingle set,
  map-side-partial count per doc — the 100 TB corpus is never shuffled
  on anything wider than (doc_id, count).
- **Mixture resampling**: resample the corpus so each source/domain hits
  a target weight. Rates are data-dependent (one tiny per-source
  histogram, broadcast back), the accept decision is a pure per-row
  content-hash compare (same md5 trick as sampling.py) — deterministic
  under any partitioning, so a 100 TB re-mix costs one scan plus a
  20-row broadcast, zero wide shuffles.
- **Incremental dedup**: the daily-ingest shape — dedup an incoming
  batch AGAINST the existing corpus without ever comparing corpus docs
  to each other. Reuses the guaranteed-recall PPJoin prefix filter
  (dedup.py) with the pair predicate flipped from ``a.id < b.id`` to
  ``a in corpus AND b in incoming``: candidate volume scales with the
  BATCH size, not the corpus size, which is what makes continuous
  ingest dedup feasible at 100 TB (the corpus side contributes only its
  prefix-token index, no corpus-x-corpus pairs exist in the plan).

Reference cites (mount empty, SURVEY §0): flexcalc has no curation
surface; this family comes from the north-star LLM-pipeline
requirements (SURVEY §2.3) — decontamination follows the n-gram-overlap
procedure of Brown et al. (GPT-3 appendix C) / Gao et al. (The Pile),
mixture weighting follows the domain-reweighting setup of Du et al.
(GLaM) at the engineering level (deterministic hash thresholding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexcalc_spark.operators.dedup import _jaccard_pairs
from flexcalc_spark.registry import register
from flexcalc_spark.tables import table, table_parallel

# --- decontamination -------------------------------------------------
CONTAM_N = 3            # token n-gram size (13 in prod; 3 at fixture vocab)
BENCH_MOD = 20          # doc_id % 20 == 0 -> benchmark member (~5%)
# flagged when >= half of a doc's shingles appear in the benchmark set
CONTAM_FLAG_NUM, CONTAM_FLAG_DEN = 1, 2

# --- mixture resampling ----------------------------------------------
# Curated domains get 4x target weight; acceptance thresholds are
# 16-bit integers compared against the first 4 md5 hex chars.
MIX_HIGH_SOURCES = ("src0", "src1", "src2", "src3", "src4")
MIX_W_HIGH, MIX_W_LOW = 4, 1
MIX_BUCKETS = 65536

# --- incremental dedup -----------------------------------------------
INC_MOD = 10            # doc_id % 10 == 0 -> incoming batch (~10%)
INC_NUM, INC_DEN = 9, 10  # token Jaccard >= 0.9


def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct token 3-grams.

    Cached: the HOF-computed array feeds three consumers (benchmark
    explode, train explode, per-doc size) — CLAUDE.md caching rule."""
    d = table_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    sh = F.when(
        F.size("toks") >= CONTAM_N,
        F.expr(
            f"transform(sequence(1, size(toks) - {CONTAM_N - 1}),"
            f" i -> concat_ws(' ', slice(toks, i, {CONTAM_N})))"
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    return t.select("doc_id", F.array_distinct(sh).alias("shingles")).cache()


@register(
    "q_decontaminate",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                     CASE WHEN len(toks) >= {CONTAM_N} THEN
                       list_transform(range(1, len(toks) - {CONTAM_N - 2}),
                                      i -> array_to_string(
                                          list_slice(toks, i, i + {CONTAM_N - 1}), ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS shingles
            FROM t
        ),
        bench AS (
            SELECT DISTINCT unnest(shingles) AS s FROM sh
            WHERE doc_id % {BENCH_MOD} = 0
        ),
        hits AS (
            SELECT e.doc_id, COUNT(*) AS n
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
                  WHERE doc_id % {BENCH_MOD} <> 0) e
            JOIN bench USING (s) GROUP BY e.doc_id
        )
        SELECT sh.doc_id,
               CAST(len(shingles) AS BIGINT) AS n_shingles,
               CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_contaminated,
               CAST(CASE WHEN {CONTAM_FLAG_DEN} * COALESCE(hits.n, 0)
                              >= {CONTAM_FLAG_NUM} * len(shingles)
                          AND len(shingles) > 0
                         THEN 1 ELSE 0 END AS BIGINT) AS flagged
        FROM sh LEFT JOIN hits USING (doc_id)
        WHERE sh.doc_id % {BENCH_MOD} <> 0
    """,
    family="curation",
    scale_notes="benchmark decontamination: corpus shingles explode scan-side and equi-join a BROADCAST benchmark shingle set (benchmarks are MBs vs corpus TBs), per-doc hit count collapses map-side — the corpus is never shuffled wider than (doc_id, count). Flag threshold is integer arithmetic",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing token 3-grams with the benchmark split.

    Benchmark = doc_id % 20 == 0 (a stand-in for an eval set); output is
    per-training-doc shingle count, benchmark-shingle hit count, and an
    integer flag (>= half the shingles contaminated)."""
    sh = _shingle_table(spark, sf_dir)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = (
        sh.filter(is_bench)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    train = sh.filter(~is_bench)
    hits = (
        train.select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_sh = F.size("shingles").cast("bigint")
    n_hit = F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            n_hit.alias("n_contaminated"),
            F.when(
                (n_hit * CONTAM_FLAG_DEN >= n_sh * CONTAM_FLAG_NUM)
                & (n_sh > 0),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("flagged"),
        )
    )


@register(
    "q_mix_sample",
    oracle=f"""
        WITH c AS (
            SELECT source, COUNT(*) AS c_s,
                   CASE WHEN source IN {MIX_HIGH_SOURCES}
                        THEN {MIX_W_HIGH} ELSE {MIX_W_LOW} END AS w
            FROM documents GROUP BY source
        ),
        t AS (SELECT SUM(c_s) AS n, SUM(w) AS sw FROM c),
        r AS (
            SELECT source,
                   LEAST({MIX_BUCKETS},
                         CAST((n * w * {MIX_BUCKETS}) // (sw * c_s) AS BIGINT)) AS thr
            FROM c, t
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN r USING (source)
        WHERE lpad(substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4), 5, '0')
              < lpad(to_hex(thr), 5, '0')
    """,
    family="curation",
    scale_notes="target-mixture resampling: per-source acceptance thresholds from ONE tiny groupBy (20 rows, broadcast back), accept = per-row md5-bucket compare — deterministic under any partitioning, so re-mixing a 100 TB corpus to new domain weights is one scan + one broadcast, no wide shuffle. Rates are integer 16-bit thresholds (hex-string compare, both engines identical); rate>=1 clamps to keep-all",
)
def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic resample to a target domain mix (curated sources
    src0-4 weighted 4x): acceptance rate per source = min(1,
    target_share / observed_share), decided by content hash."""
    d = table(spark, sf_dir, "documents")
    w = (
        F.when(F.col("source").isin(*MIX_HIGH_SOURCES), MIX_W_HIGH)
        .otherwise(MIX_W_LOW)
        .cast("bigint")
    )
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("c_s"), F.first(w).alias("w")
    )
    t = c.agg(F.sum("c_s").alias("n"), F.sum("w").alias("sw"))
    rates = c.crossJoin(F.broadcast(t)).select(
        "source",
        F.least(
            F.lit(MIX_BUCKETS),
            F.expr(f"(n * w * {MIX_BUCKETS}) div (sw * c_s)"),
        ).alias("thr"),
    )
    bucket = F.lpad(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")).cast("binary")),
            1,
            4,
        ),
        5,
        "0",
    )
    thr_hex = F.lpad(F.lower(F.hex(F.col("thr"))), 5, "0")
    return (
        d.join(F.broadcast(rates), "source")
        .filter(bucket < thr_hex)
        .select("doc_id", "source")
    )


@register(
    "q_dedup_incremental",
    oracle=f"""
        -- inverted-index form (see q_dedup_neardup's oracle note); the
        -- corpus-x-incoming predicate rides the token equi join
        WITH t AS MATERIALIZED (
            SELECT doc_id, lang,
                   list_distinct(string_split(lower(text), ' ')) AS toks
            FROM documents
        ),
        e AS MATERIALIZED (
            SELECT doc_id, lang, len(toks) AS sz, unnest(toks) AS tok FROM t
        ),
        p AS (
            SELECT a.doc_id AS id_old, b.doc_id AS id_new, COUNT(*) AS isz,
                   ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
            FROM e a JOIN e b
              ON a.lang = b.lang AND a.tok = b.tok
             AND a.doc_id % {INC_MOD} <> 0 AND b.doc_id % {INC_MOD} = 0
            GROUP BY 1, 2
        )
        SELECT id_old, id_new,
               ROUND(CAST(isz AS DOUBLE) / (sz_a + sz_b - isz), 4) AS jac
        FROM p
        WHERE isz * {INC_DEN} >= {INC_NUM} * (sz_a + sz_b - isz)
    """,
    family="curation",
    scale_notes="incremental (batch-vs-corpus) dedup — the daily-ingest shape: SAME guaranteed-recall prefix filter as q_dedup_neardup but the candidate join pairs corpus docs only WITH incoming docs (pair predicate corpus x incoming), so candidate volume scales with the batch, not the corpus, and no corpus-x-corpus pair ever exists in the plan. At 100 TB the corpus contributes only its rare-prefix token index; with the index persisted, each ingest batch costs O(batch x prefix)",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (token Jaccard >= 0.9, within lang) between the
    existing corpus (doc_id % 10 != 0) and an incoming batch
    (doc_id % 10 == 0) — never corpus-vs-corpus."""
    d = table_parallel(spark, sf_dir, "documents")
    items = d.select(
        "doc_id",
        F.col("lang").alias("grp"),
        F.array_distinct(F.split(F.lower("text"), " ")).alias("items"),
    )
    corpus_x_incoming = (F.col("id_a") % INC_MOD != 0) & (F.col("id_b") % INC_MOD == 0)
    return _jaccard_pairs(items, INC_NUM, INC_DEN, corpus_x_incoming).select(
        F.col("id_a").alias("id_old"), F.col("id_b").alias("id_new"), "jac"
    )


@register(
    "q_table_checksum",
    oracle="""
        WITH h AS (
            SELECT substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR), text,
                                        lang, source,
                                        CAST(n_chars AS VARCHAR))), 1, 1)
                       AS bucket,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, 9),
                               k -> CAST(ascii(substr(md5(concat_ws('|',
                                        CAST(doc_id AS VARCHAR), text, lang,
                                        source, CAST(n_chars AS VARCHAR))),
                                        k, 1)) AS BIGINT))),
                       (acc, x) -> acc * 31 + x) AS hv
            FROM documents
        )
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(hv) AS BIGINT) AS sum_h
        FROM h GROUP BY bucket
    """,
    family="curation",
    scale_notes=(
        "engine-portable content checksum: per-row md5 over a canonical "
        "string rendering, folded to a BIGINT and summed into 16 "
        "hex-prefix buckets — validating a 100 TB copy/migration "
        "between engines becomes comparing two 16-row histograms, one "
        "scan each side, no data movement. Integer sums are "
        "order/partitioning-independent; any single-cell drift shifts "
        "its bucket's (count, sum) with probability ~1"
    ),
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket md5 content checksum of the documents table (row
    count + folded-hash sum per bucket) — the cross-engine
    copy-validation primitive."""
    d = table_parallel(spark, sf_dir, "documents")
    row_str = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        "text",
        "lang",
        "source",
        F.col("n_chars").cast("string"),
    )
    m = F.md5(row_str.cast("binary"))
    hv = F.expr(
        "aggregate(sequence(1, 8), CAST(0 AS BIGINT),"
        " (acc, k) -> acc * 31 + CAST(ascii(substring(rowmd5, k, 1))"
        " AS BIGINT))"
    )
    return (
        d.select(
            F.substring(m, 1, 1).alias("bucket"), m.alias("rowmd5")
        )
        .select("bucket", hv.alias("hv"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("hv").cast("bigint").alias("sum_h"),
        )
    )


# --- chunk-level dedup (CCNet/RefinedWeb line-dedup analog) ----------
CHUNK_TOKS = 10         # tokens per chunk ("paragraph" stand-in)


@register(
    "q_dedup_chunks",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents
        ),
        ch AS (
            SELECT doc_id,
                   md5(unnest(list_transform(
                       range(0, CAST(ceil(len(toks)/{CHUNK_TOKS}.0) AS BIGINT)),
                       i -> array_to_string(
                           list_slice(toks, i*{CHUNK_TOKS}+1,
                                      i*{CHUNK_TOKS}+{CHUNK_TOKS}), ' ')))) AS h
            FROM t
        ),
        freq AS (SELECT h, COUNT(*) AS cnt FROM ch GROUP BY h)
        SELECT ch.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN freq.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_chunks
        FROM ch JOIN freq USING (h)
        GROUP BY ch.doc_id
    """,
    family="curation",
    scale_notes=(
        "paragraph/line-level exact dedup (the CCNet/RefinedWeb "
        "line-dedup shape, with fixed token chunks standing in for the "
        "fixture corpus's missing newlines): chunks hash to md5 BEFORE "
        "the frequency shuffle so the wide exchange carries 32-byte "
        "digests, never chunk text; global frequency is one hash "
        "groupBy with map-side combine, and the count join back is an "
        "equi join on the digest. At 100 TB this is embarrassingly "
        "shuffle-parallel — the op CCNet runs over every Common Crawl "
        "snapshot; the rewrite step (dropping duplicated chunks from "
        "the stored text) reuses the same digest join scan-side"
    ),
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-chunk census: split each doc into 10-token
    chunks, count corpus-wide chunk frequency via an md5-digest
    shuffle, report per doc how many of its chunks are non-unique."""
    d = table_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    chunks = F.expr(
        f"transform(sequence(0, CAST(ceil(size(toks)/{CHUNK_TOKS}.0) AS BIGINT) - 1),"
        f" i -> concat_ws(' ', slice(toks, CAST(i*{CHUNK_TOKS}+1 AS INT), {CHUNK_TOKS})))"
    )
    ch = t.select(
        "doc_id", F.explode(chunks).alias("c")
    ).select("doc_id", F.md5(F.col("c").cast("binary")).alias("h"))
    freq = ch.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        ch.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
        )
    )


# --- k-anonymity pseudonymization ------------------------------------
ANON_K = 5              # minimum distinct users per quasi-identifier cell
ANON_BAND = 50          # value band width (quasi-identifier coarsening)


@register(
    "q_anonymize",
    oracle=f"""
        WITH b AS (
            SELECT user_id, event_type,
                   CAST(floor(value / {ANON_BAND}) AS BIGINT) AS band
            FROM events
        ),
        cells AS (
            SELECT event_type, band, COUNT(DISTINCT user_id) AS n_users
            FROM b GROUP BY event_type, band
        )
        SELECT substr(md5('anon:' || CAST(b.user_id AS VARCHAR)), 1, 12)
                   AS pseudo_id,
               b.event_type, b.band,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM b JOIN cells USING (event_type, band)
        WHERE cells.n_users >= {ANON_K}
        GROUP BY pseudo_id, b.event_type, b.band
    """,
    family="curation",
    scale_notes=(
        "GDPR-style pseudonymization + k-anonymity gate in two narrow "
        "passes: quasi-identifier cells (event_type, value band) "
        "aggregate to a tiny distinct-user census that BROADCASTS back "
        "as the suppression filter, and identifiers become salted-hash "
        "pseudonyms scan-side (no lookup table to leak). The 100 TB "
        "release re-run is one scan + one broadcast; cells under k "
        "vanish entirely, so no output row's cohort has fewer than k "
        "users. Exact distinct per cell swaps to HLL (q_sketch_hll) "
        "when the census itself is large"
    ),
)
def q_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymized event release with k-anonymity (k=5) over the
    (event_type, value-band) quasi-identifier: salted-md5 pseudo ids,
    cells with <5 distinct users suppressed."""
    e = table(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        "event_type",
        F.floor(F.col("value") / ANON_BAND).cast("bigint").alias("band"),
    )
    cells = (
        b.groupBy("event_type", "band")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .filter(F.col("n_users") >= ANON_K)
        .select("event_type", "band")
    )
    pseudo = F.substring(
        F.md5(
            F.concat(F.lit("anon:"), F.col("user_id").cast("string")).cast(
                "binary"
            )
        ),
        1,
        12,
    )
    return (
        b.join(F.broadcast(cells), ["event_type", "band"])
        .groupBy(pseudo.alias("pseudo_id"), "event_type", "band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


# --- free-text PII detection / redaction ------------------------------
# Shared between the Spark expressions and the oracle SQL: the contact
# blob is derived deterministically from customer rows (the documents
# fixture is PII-free word salad by construction — FIXTURES.md), and
# the patterns avoid backslash escapes so the literals survive both
# engines' string parsing identically.
PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+[.]com"
PII_PHONE_RE = "[+]1-[0-9]{3}-[0-9]{4}"


def _pii_contact_sql() -> str:
    """Deterministic synthetic contact line per customer (2 of 3 rows
    carry a phone), identical text on both engines."""
    # VARCHAR(20), not bare VARCHAR: Spark requires the length parameter
    # (DuckDB accepts and ignores it), and both engines render the
    # integer identically inside it.
    return (
        "c_name || ' <' || lower(replace(c_name, '#', '')) || '@corp'"
        " || CAST(c_nationkey % 7 AS VARCHAR(20)) || '.com> '"
        " || CASE WHEN c_custkey % 3 <> 0"
        " THEN '+1-' || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR(20)),"
        " 3, '0')"
        " || '-' || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR(20)),"
        " 4, '0')"
        " ELSE 'no phone' END"
    )


@register(
    "q_pii_redact",
    oracle=f"""
        WITH c AS (
            SELECT c_mktsegment, {_pii_contact_sql()} AS contact
            FROM customer
        ),
        r AS (
            SELECT c_mktsegment, contact,
                   len(regexp_extract_all(contact, '{PII_EMAIL_RE}'))
                       AS n_email,
                   len(regexp_extract_all(contact, '{PII_PHONE_RE}'))
                       AS n_phone,
                   regexp_replace(
                       regexp_replace(contact, '{PII_EMAIL_RE}',
                                      '[EMAIL]', 'g'),
                       '{PII_PHONE_RE}', '[PHONE]', 'g') AS redacted
            FROM c
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_contacts,
               CAST(SUM(n_email) AS BIGINT) AS n_emails,
               CAST(SUM(n_phone) AS BIGINT) AS n_phones,
               CAST(SUM(length(contact) - length(redacted)) AS BIGINT)
                   AS chars_removed
        FROM r GROUP BY c_mktsegment
    """,
    family="curation",
    scale_notes=(
        "regex PII scrub — the free-text sibling of q_anonymize's "
        "structured k-anonymity: detection (regexp_extract_all counts) "
        "and redaction (chained regexp_replace) are pure scan-side "
        "codegen expressions, zero shuffles before the per-segment "
        "census aggregation, so a 100 TB corpus scrub is one pass at "
        "read bandwidth. Real pipelines swap the two patterns for a "
        "battery (emails/phones/SSNs/IPs/keys) — still one scan, the "
        "expression chain just grows. DuckDB regexp_replace needs the "
        "explicit 'g' flag to match Spark's replace-all default "
        "(cross-engine gotcha); patterns avoid backslash classes so "
        "the literals parse identically in both engines"
    ),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect and redact emails/phones in synthetic per-customer
    contact text; per-segment census (n_contacts, n_emails, n_phones,
    chars_removed)."""
    cust = table(spark, sf_dir, "customer")
    c = cust.selectExpr(
        "c_mktsegment", f"{_pii_contact_sql()} AS contact"
    )
    r = c.selectExpr(
        "c_mktsegment",
        "contact",
        f"size(regexp_extract_all(contact, '{PII_EMAIL_RE}', 0))"
        " AS n_email",
        f"size(regexp_extract_all(contact, '{PII_PHONE_RE}', 0))"
        " AS n_phone",
        f"regexp_replace(regexp_replace(contact, '{PII_EMAIL_RE}',"
        f" '[EMAIL]'), '{PII_PHONE_RE}', '[PHONE]') AS redacted",
    )
    return r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contacts"),
        F.sum("n_email").cast("bigint").alias("n_emails"),
        F.sum("n_phone").cast("bigint").alias("n_phones"),
        F.sum(F.length("contact") - F.length("redacted"))
        .cast("bigint")
        .alias("chars_removed"),
    )
