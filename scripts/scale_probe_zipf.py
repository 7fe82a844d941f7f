"""Zipf-tailed corpus census probe (VERDICT r7 item 5).

The round-7 sessions measured the prefix-filter candidate census FLAT
at ~47% of all-pairs (containment) / high for Jaccard on the FIXTURE
corpus — an artifact of its ~31-word bounded vocabulary, where every
token is hot so per-token doc frequency scales with n and the token
self-join is quadratic. The standing claim in both keys' scale_notes is
that on a REAL (Zipf-tailed) corpus the census is ~n * prefix, because
the rarest-first prefix tokens have ~O(1) doc frequency. This probe
substantiates that claim by measurement instead of analysis.

Corpus: deterministic Zipf(1) word salad. Word ranks sample r = V**u
with u uniform from xxhash64 (P(r) ∝ 1/r truncated to [1, V=10_000]) —
the canonical rank-frequency law of natural text. 20-60 words per doc;
every doc with id % 50 == 1 repeats doc id-1 minus its last word
(guaranteed planted near-dups, the round-2 protocol of scale_probe.py).

Measured (recorded in SCALE.md round-8) — the two censuses SPLIT:

- Jaccard (tau 19/20, word tokens): census 2.5e-5 -> 3.3e-5 -> 4.2e-5
  of all-pairs at n = 2k/8k/32k — four orders of magnitude below
  all-pairs, dominated by planted/true pairs. Recall among planted
  pairs that actually qualify (jac >= 0.95 on distinct sets) is 1.0;
  the "misses" in the raw planted count are short docs whose
  one-word-dropped twin falls below tau. The FRACTION creeps up
  because the generator's vocabulary is FIXED (V = 10k): every token's
  doc frequency grows ~n, so hot-ish prefix collisions grow ~n^2 with
  a tiny constant. On a real Heaps-law corpus (vocab grows with n,
  rarest tokens stay df=O(1)) the census model
  cand ~= sum_docs sum_{t in prefix} df(t) stays ~n * prefix.
- Containment (tau 4/5, char-5-grams): census FLAT ~14-15% of
  all-pairs at every n — QUADRATIC on Zipf text too, refuting the old
  "~n*prefix on Zipf corpora" note. Cause: at tau = 0.8 the probe
  prefix is ~20% of a doc's grams, and char-5-gram frequency mass is
  scale-free-hot (grams of the hot words dominate), so even the
  rarest-20% prefix carries df ~ n grams. The measured LEVER is the
  gram unit: word-2-gram shingles (same tau, same machinery) drop the
  census to the Jaccard regime because shingle probability is the
  product of two word probabilities.

Run: cd /tmp && python /root/repo/scripts/scale_probe_zipf.py
     (optional argv: a subset of {jaccard,contain,contain_w2} to probe)
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

VOCAB_N = 10_000
SIZES = [2_000, 8_000, 32_000]


def gen_zipf_corpus(
    spark: SparkSession, n: int, out_dir: str, vocab: int = VOCAB_N
) -> None:
    """documents.parquet with Zipf(1) word frequencies (see module doc).

    ``vocab`` is the rank-space ceiling V. The default fixes V (the
    round-8 runs); the Heaps-law mode grows it with n — on real text
    vocabulary grows ~T^beta (Heaps), so the rarest-prefix tokens keep
    df = O(1) as the corpus grows, which is exactly the regime the
    ~n*prefix census claim assumes."""
    df = (
        spark.range(n)
        .withColumn(
            "base_id",
            F.expr("id - (CASE WHEN id % 50 = 1 THEN 1 ELSE 0 END)"),
        )
        .withColumn("length", F.expr("20 + pmod(xxhash64('len', base_id), 41)"))
        .withColumn(
            "eff_len",
            F.expr("CASE WHEN id % 50 = 1 THEN length - 1 ELSE length END"),
        )
        .withColumn(
            "text",
            F.expr(
                "array_join(transform(sequence(1, eff_len), j -> "
                f" concat('w', CAST(pow(CAST({vocab} AS DOUBLE),"
                "   (pmod(xxhash64('w', base_id, j), 1000003) + 0.5)"
                "   / 1000003.0) AS INT))), ' ')"
            ),
        )
        .select(
            F.col("id").alias("doc_id"),
            "text",
            F.lit("en").alias("lang"),
            F.lit("src0").alias("source"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
    )
    df.coalesce(8).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def jaccard_census(spark: SparkSession, sf_dir: str) -> dict:
    """Candidate count from the EXACT graded neardup machinery
    (_ranked_token_arrays + set_sim_candidates), single group
    (conservative: no lang blocking)."""
    from flexcalc_spark.operators.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        _ranked_token_arrays,
        _tok_sets,
        set_sim_candidates,
    )

    t = (
        _tok_sets(spark, sf_dir)
        .select("doc_id", F.col("toks").alias("items"))
        .cache()
    )
    ranked = _ranked_token_arrays(t).cache()
    cand = set_sim_candidates(ranked, "jaccard", JACCARD_NUM, JACCARD_DEN)
    t0 = time.perf_counter()
    n_cand = cand.count()
    dt = time.perf_counter() - t0
    planted = cand.filter(
        (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_b") % 50 == 1)
    ).count()
    # Guaranteed-recall check: every planted pair whose DISTINCT-set
    # jaccard actually meets tau must be a candidate. (A planted doc
    # drops one word; if that word was unique and the doc is short,
    # jac = (|A|-1)/|A| < 19/20 and the pair legitimately does not
    # qualify — those are the only acceptable "misses".)
    sets = t.select("doc_id", "items")
    a = sets.alias("a")
    b = sets.alias("b")
    qual = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("b.doc_id") % 50 == 1),
        )
        .filter(
            F.size(F.array_intersect("a.items", "b.items")) * JACCARD_DEN
            >= F.size(F.array_union("a.items", "b.items")) * JACCARD_NUM
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    n_qual = qual.count()
    n_qual_cand = qual.join(cand, ["id_a", "id_b"], "left_semi").count()
    n_docs = t.count()
    t.unpersist()
    ranked.unpersist()
    return {
        "docs": n_docs,
        "cand": n_cand,
        "planted_cand": planted,
        "qual": n_qual,
        "qual_cand": n_qual_cand,
        "s": dt,
    }


def containment_census(
    spark: SparkSession, sf_dir: str, gram: str = "char"
) -> dict:
    """Candidate count of a containment key's candidate stage: the
    graded plan's own set_sim_candidates relation (rarest-first probe
    prefix vs full index, size + PPJoin positional prunes) over the
    key's own items.

    gram='char': q_dedup_containment's char-5-grams. gram='word2':
    q_dedup_containment_shingle's word 2-gram shingles — same
    thresholds, same machinery — the measured scale LEVER: shingle
    probability is the product of two word probabilities, so
    rarest-first prefixes are genuinely rare."""
    from flexcalc_spark.operators.dedup import (
        CONTAIN_DEN,
        CONTAIN_NUM,
        _char_gram_items,
        _ranked_token_arrays,
        _shingle_items,
        set_sim_candidates,
    )
    from flexcalc_spark.tables import table_parallel

    d = table_parallel(spark, sf_dir, "documents")
    items = (_char_gram_items(d) if gram == "char" else _shingle_items(d)).cache()
    ranked = (
        _ranked_token_arrays(items)
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    cand = set_sim_candidates(ranked, "containment", CONTAIN_NUM, CONTAIN_DEN)
    t0 = time.perf_counter()
    n_cand = cand.count()
    dt = time.perf_counter() - t0
    n_docs = items.count()
    items.unpersist()
    ranked.unpersist()
    return {"docs": n_docs, "cand": n_cand, "s": dt}


def twostage_census(spark: SparkSession, sf_dir: str) -> dict:
    """The ACTUAL q_dedup_containment_2stage plan (VERDICT r10 item 3):
    the raw relation and the survivors of the graded key's own stage 1
    (set_sim_candidates / set_sim_pairs in the COUNT form, shared code —
    not a probe reconstruction) plus the full two-stage plan end-to-end
    (final pair count and wall time including the char-gram re-score)."""
    from flexcalc_spark.operators.dedup import (
        TWOSTAGE_CAND_DEN,
        TWOSTAGE_CAND_NUM,
        _ranked_token_arrays,
        _twostage_items,
        q_dedup_containment_2stage,
        set_sim_candidates,
        set_sim_pairs,
    )
    from flexcalc_spark.tables import table_parallel

    d = table_parallel(spark, sf_dir, "documents")
    # raw pair-count relation: every doc pair sharing >= 1 shingle (the
    # COUNT form probes every item; same fixed-V ~n^2 / Heaps ~n classes
    # as the prefix probe it replaced). The count form is order-free, so
    # the ranked arrays serve as its hashed items.
    ranked = _ranked_token_arrays(_twostage_items(d)).cache()
    t0 = time.perf_counter()
    n_raw = set_sim_candidates(
        ranked, "containment", TWOSTAGE_CAND_NUM, TWOSTAGE_CAND_DEN
    ).count()
    raw_s = time.perf_counter() - t0
    ranked.unpersist()
    # stage-2 input census: candidates surviving the exact word-level
    # verify at tau 0.2 (what the char-gram stage actually touches)
    t0 = time.perf_counter()
    n_cand = set_sim_pairs(
        _twostage_items(d), "containment", TWOSTAGE_CAND_NUM, TWOSTAGE_CAND_DEN
    ).count()
    cand_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs = q_dedup_containment_2stage(spark, sf_dir).count()
    full_s = time.perf_counter() - t0
    # the plan helpers cache items/ranked internally per call; drop all
    # of it so 9 corpus iterations don't accumulate cached relations
    # and distort the later iterations' wall times
    spark.catalog.clearCache()
    return {"raw": n_raw, "raw_s": raw_s, "cand": n_cand, "cand_s": cand_s,
            "pairs": n_pairs, "full_s": full_s}


def main() -> None:
    modes = set(sys.argv[1:]) or {"jaccard", "contain", "contain_w2"}
    # 'jaccard_heaps': the round-9 growing-vocabulary run (VERDICT r8
    # item 5). The fixed-V runs showed the census FRACTION creeping
    # 2.5e-5 -> 4.2e-5 across 2k -> 32k because every token's df grows
    # ~n under a fixed vocabulary; under Heaps growth V ~ sqrt(n) the
    # rarest-prefix tokens stay df = O(1) and the fraction should FALL
    # ~1/n (cand ~ n * prefix). Measured result goes to SCALE.md.
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="zipf_corpus_")
    print(f"corpus root: {base}")
    base_modes = modes & {"jaccard", "contain", "contain_w2"}
    for n in SIZES if base_modes else []:
        out = f"{base}/n{n}"
        gen_zipf_corpus(spark, n, out)
        allp = n * (n - 1) // 2
        if "jaccard" in modes:
            j = jaccard_census(spark, out)
            print(
                f"jaccard n={n}: cand={j['cand']} "
                f"frac={j['cand'] / allp:.3e} planted_cand={j['planted_cand']}"
                f"/{(n + 48) // 50} qual_recall={j['qual_cand']}/{j['qual']}"
                f" {j['s']:.1f}s"
            )
        if "contain" in modes:
            c = containment_census(spark, out)
            print(
                f"contain n={n}: cand={c['cand']} "
                f"frac={c['cand'] / allp:.3e} {c['s']:.1f}s"
            )
        if "contain_w2" in modes:
            c = containment_census(spark, out, gram="word2")
            print(
                f"contain_w2 n={n}: cand={c['cand']} "
                f"frac={c['cand'] / allp:.3e} {c['s']:.1f}s"
            )
    if "twostage" in modes:
        # the full graded composition under all three vocabulary-growth
        # regimes (the round-9 jaccard_heaps protocol): fixed V (worst
        # case), Heaps V ∝ √n, and V ∝ n (true Heaps-law web text at
        # corpus scale). Exponent = log-log slope of candidate count.
        import math

        for regime, vfn in (
            ("fixedV", lambda n: VOCAB_N),
            ("heaps_sqrt", lambda n: int(VOCAB_N * (n / SIZES[0]) ** 0.5)),
            ("heaps_lin", lambda n: int(VOCAB_N * n / SIZES[0])),
        ):
            counts = []
            for n in SIZES:
                vocab = vfn(n)
                out = f"{base}/ts_{regime}_n{n}"
                gen_zipf_corpus(spark, n, out, vocab=vocab)
                allp = n * (n - 1) // 2
                r = twostage_census(spark, out)
                counts.append((n, r["raw"], r["cand"]))
                print(
                    f"twostage {regime} n={n} V={vocab}: raw={r['raw']} "
                    f"rawfrac={r['raw'] / allp:.3e} cand={r['cand']} "
                    f"candfrac={r['cand'] / allp:.3e} pairs={r['pairs']} "
                    f"raw_s={r['raw_s']:.1f} cand_s={r['cand_s']:.1f} "
                    f"full_s={r['full_s']:.1f}"
                )
            (n1, r1, c1), (n2, r2, c2) = counts[0], counts[-1]
            if r1 and r2:
                exp = math.log(r2 / r1) / math.log(n2 / n1)
                print(f"twostage {regime} RAW exponent (n{n1}->n{n2}): {exp:.2f}")
            if c1 and c2:
                exp = math.log(c2 / c1) / math.log(n2 / n1)
                print(f"twostage {regime} stage2-input exponent: {exp:.2f}")
    if "jaccard_heaps" in modes:
        for n in SIZES:
            vocab = int(VOCAB_N * (n / SIZES[0]) ** 0.5)
            out = f"{base}/heaps_n{n}"
            gen_zipf_corpus(spark, n, out, vocab=vocab)
            allp = n * (n - 1) // 2
            j = jaccard_census(spark, out)
            print(
                f"jaccard_heaps n={n} V={vocab}: cand={j['cand']} "
                f"frac={j['cand'] / allp:.3e} planted_cand={j['planted_cand']}"
                f"/{(n + 48) // 50} qual_recall={j['qual_cand']}/{j['qual']}"
                f" {j['s']:.1f}s"
            )
    spark.stop()


if __name__ == "__main__":
    main()
