"""Hypothesis property tests (SURVEY §5.2.5): invariants of the CT
kernels and sketch operators over generated inputs."""

from __future__ import annotations

import os
import platform
import subprocess
import sys

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from flexcalc_spark import ct
from flexcalc_spark import registry
from tests.conftest import SF_DIR

_slow = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    d=st.integers(2, 4), h=st.integers(3, 8), w=st.integers(3, 8),
    seed=st.integers(0, 10_000),
)
@_slow
def test_histogram_counts_sum_to_voxels(spark, d, h, w, seed):
    """Per-slice histogram counts over any volume sum to the voxel count
    (R18 invariant) — via the slice table + a relational agg."""
    rng = np.random.RandomState(seed)
    vol = rng.uniform(-1, 1, size=(d, h, w)).astype(np.float32)
    df = ct.slices_from_array(spark, "hprop", vol)
    from pyspark.sql import functions as F
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("bucket", LongType()), StructField("c", LongType())])

    def hist(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                img = np.frombuffer(row["px"], dtype=np.dtype(row["dtype"]))
                b, c = np.unique(np.floor(img / 0.25).astype(np.int64), return_counts=True)
                out.extend(zip(b.tolist(), c.tolist()))
            yield pd.DataFrame(out, columns=["bucket", "c"])

    total = (
        df.mapInPandas(hist, schema).groupBy("bucket").agg(F.sum("c").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert total == d * h * w


@given(
    dy=st.integers(-12, 12), dx=st.integers(-12, 12), seed=st.integers(0, 1000)
)
@_slow
def test_translate_mass_never_increases(spark, dy, dx, seed):
    """Translation with zero fill can only lose mass (R12 invariant),
    including shifts beyond the frame."""
    rng = np.random.RandomState(seed)
    vol = rng.uniform(0, 1, size=(2, 6, 6)).astype(np.float32)
    df = ct.slices_from_array(spark, "tprop", vol)
    out = ct.array_from_slices(ct.translate(df, dy, dx))
    assert out.sum() <= vol.sum() + 1e-3
    if dy == 0 and dx == 0:
        assert np.array_equal(out, vol)


@given(lo=st.floats(-2, 0), hi=st.floats(0.5, 3), seed=st.integers(0, 1000))
@_slow
def test_cast2type_bounds_and_monotone(spark, lo, hi, seed):
    """cast2type clips outside [lo, hi] and is monotone inside (R10)."""
    rng = np.random.RandomState(seed)
    vol = rng.uniform(-3, 4, size=(2, 5, 5)).astype(np.float32)
    df = ct.slices_from_array(spark, "cprop", vol)
    out = ct.array_from_slices(ct.cast2type(df, "uint8", bounds=(lo, hi)))
    assert out.min() >= 0 and out.max() <= 255
    below = vol <= lo
    above = vol >= hi
    assert np.all(out[below] == 0)
    assert np.all(out[above] == 255)


def test_approx_percentile_brackets_exact(spark):
    """Sketch estimates must land within the group's value range and
    near the exact percentiles (rows-only key's self-check)."""
    approx = {
        r.l_returnflag: r
        for r in registry.QUERIES["q_agg_approx_percentile"](spark, SF_DIR).collect()
    }
    exact = {
        r.l_returnflag: r
        for r in registry.QUERIES["q_agg_percentile"](spark, SF_DIR).collect()
    }
    for k, a in approx.items():
        assert abs(a.p50 - exact[k].p50) <= 2.0
        assert abs(a.price_p95 - exact[k].price_p95) / exact[k].price_p95 < 0.05


def _overlap_qualifies(measure, a, b, num, den):
    """Brute-force set_sim_pairs predicate on Python sets."""
    isz = len(a & b)
    if measure == "jaccard":
        return bool(a | b) and isz * den >= num * len(a | b)
    return bool(a) and isz * den >= num * len(a)


@given(
    n_docs=st.integers(4, 14),
    vocab=st.integers(3, 10),
    num_den=st.sampled_from([(19, 20), (49, 50), (4, 5)]),
    measure=st.sampled_from(["jaccard", "containment"]),
    seed=st.integers(0, 10_000),
)
@example(n_docs=8, vocab=6, num_den=(4, 5), measure="containment", seed=7)
@_slow
def test_prefix_filter_candidates_are_complete(
    spark, n_docs, vocab, num_den, measure, seed
):
    """The PPJoin prefix-filter candidate set must contain EVERY pair
    reaching the measure's threshold (the guaranteed-recall theorem the
    graded Jaccard and containment plans rely on), on arbitrary random
    token sets."""
    from flexcalc_spark.operators.dedup import (
        _ranked_token_arrays,
        set_sim_candidates,
    )

    num, den = num_den
    rng = np.random.RandomState(seed)
    docs = []
    for i in range(n_docs):
        size = rng.randint(1, vocab + 1)
        toks = sorted(rng.choice(vocab, size=size, replace=False))
        docs.append((i, "g", [f"t{t}" for t in toks]))
    # duplicate a few docs exactly / near-exactly so qualifying pairs exist
    docs.append((n_docs, "g", list(docs[0][2])))
    if len(docs[1][2]) > 1:
        docs.append((n_docs + 1, "g", list(docs[1][2])))

    exact = set()
    for i in range(len(docs)):
        for j in range(len(docs)):
            if i == j or (measure == "jaccard" and j < i):
                continue
            a, b = set(docs[i][2]), set(docs[j][2])
            if _overlap_qualifies(measure, a, b, num, den):
                exact.add((docs[i][0], docs[j][0]))

    items = spark.createDataFrame(
        docs, "doc_id long, grp string, items array<string>"
    )
    cand = {
        (r.id_a, r.id_b)
        for r in set_sim_candidates(
            _ranked_token_arrays(items), measure, num, den
        ).collect()
    }
    missing = exact - cand
    assert not missing, f"prefix filter missed qualifying pairs: {missing}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_docs=st.integers(6, 14),
    vocab=st.integers(8, 40),
    num_den=st.sampled_from([(19, 20), (4, 5), (1, 5)]),
    measure=st.sampled_from(["jaccard", "containment"]),
    seed=st.integers(0, 2**31 - 1),
)
# the COUNT form for both measures, whatever the random draws
@example(n_docs=8, vocab=10, num_den=(1, 5), measure="containment", seed=3)
@example(n_docs=8, vocab=10, num_den=(1, 5), measure="jaccard", seed=3)
def test_containment_sig_prefilter_output_complete(
    spark, n_docs, vocab, num_den, measure, seed
):
    """set_sim_pairs must emit exactly the brute-force pair set with its
    exact (isz, sz_a, sz_b), for both measures and both forms: prefix
    candidates -> (for containment) the bitmap bound -> exact intersect,
    and (at 1/5) the COUNT form. Also pins the sig construction itself:
    the SQL bit_or bitmap must equal a Python OR-fold of pmod(hash,
    SIG_BITS) bits over the doc's own hitems."""
    from flexcalc_spark.operators.dedup import (
        SIG_BITS, _ranked_token_arrays, set_sim_pairs,
    )

    num, den = num_den
    rng = np.random.RandomState(seed)
    docs = []
    for i in range(n_docs):
        size = rng.randint(1, vocab + 1)
        toks = sorted(rng.choice(vocab, size=size, replace=False))
        docs.append((i, [f"t{t}" for t in toks]))
    # a contained twin (subset) and an exact twin so qualifying pairs exist
    base = docs[0][1]
    docs.append((n_docs, list(base)))
    docs.append((n_docs + 1, list(base[: max(1, len(base) * 4 // 5)])))

    # no grp column: the ungrouped input of the graded containment keys
    items = spark.createDataFrame(docs, "doc_id long, items array<string>")

    # sig construction pin (mechanism-distinct: fold the hitems column
    # itself in Python and compare word-for-word)
    ranked = _ranked_token_arrays(items, with_sig=True).collect()
    for r in ranked:
        want_sig = [0] * (SIG_BITS // 64)
        for h in r.hitems:
            j = h % SIG_BITS            # python % == pmod for positive mod
            want_sig[j // 64] |= 1 << (j % 64)
        got_sig = [w & 0xFFFFFFFFFFFFFFFF for w in r.sig]
        assert got_sig == want_sig, f"doc {r.doc_id} sig mismatch"

    want = set()
    for i in range(len(docs)):
        for j in range(len(docs)):
            if i == j or (measure == "jaccard" and j < i):
                continue
            a, b = set(docs[i][1]), set(docs[j][1])
            if _overlap_qualifies(measure, a, b, num, den):
                want.add((docs[i][0], docs[j][0], len(a & b), len(a), len(b)))
    got = {
        (r.id_a, r.id_b, r.isz, r.sz_a, r.sz_b)
        for r in set_sim_pairs(items, measure, num, den).collect()
    }
    assert got == want, f"got-want={got - want} want-got={want - got}"


def test_bloom_prefilter_is_superset_with_bounded_fp(spark):
    """q_join_bloom's prefilter must pass EVERY true match (no false
    negatives, the bloom guarantee) and keep false positives bounded —
    at the ~17 bits/key sizing the theoretical fp is ~1.2%."""
    import pyspark.sql.functions as F

    from flexcalc_spark.operators.joins import BLOOM_BITS, BLOOM_HASHES
    from flexcalc_spark.tables import table
    from tests.conftest import SF_DIR

    l = table(spark, SF_DIR, "lineitem")
    o = table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    pos = o.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(h), F.col("o_orderkey")),
                        F.lit(BLOOM_BITS),
                    )
                    for h in range(BLOOM_HASHES)
                ]
            )
        ).alias("pos")
    )
    bloom = (
        pos.select(
            F.expr("pos div 64").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )
    probe = l
    for h in range(BLOOM_HASHES):
        p = f"pmod(xxhash64({h}, l_orderkey), {BLOOM_BITS})"
        probe = (
            probe.withColumn(f"w{h}", F.expr(f"({p}) div 64"))
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("word").alias(f"bw{h}"),
                        F.col("mask").alias(f"bm{h}"),
                    )
                ),
                F.col(f"w{h}") == F.col(f"bw{h}"),
                "inner",
            )
            .filter(F.expr(f"((bm{h} >> CAST(({p}) % 64 AS INT)) & 1) = 1"))
            .drop(f"w{h}", f"bw{h}", f"bm{h}")
        )
    passed_keys = {r.l_orderkey for r in probe.select("l_orderkey").collect()}
    true_keys = {
        r.l_orderkey
        for r in l.join(
            o.select("o_orderkey"),
            l.l_orderkey == o.o_orderkey,
            "left_semi",
        )
        .select("l_orderkey")
        .collect()
    }
    assert true_keys <= passed_keys          # zero false negatives
    n_rows = l.count()
    fp = (len(passed_keys - true_keys)) / max(n_rows, 1)
    assert fp < 0.05, fp                     # sized for ~1.2%


def test_equidepth_approx_matches_exact_buckets(spark):
    """The approx_percentile boundary path must produce bucket
    populations within sketch tolerance of the exact tier (accuracy
    10000 => rank error <= n * 1e-4 per boundary)."""
    from flexcalc_spark import registry

    exact = {
        r.bucket: r.cnt
        for r in registry.QUERIES["q_histogram_equidepth"](
            spark, SF_DIR
        ).collect()
    }
    approx = {
        r.bucket: r.cnt
        for r in registry.QUERIES["q_histogram_equidepth_approx"](
            spark, SF_DIR
        ).collect()
    }
    assert set(exact) == set(approx) == set(range(10))
    n = sum(exact.values())
    assert sum(approx.values()) == n
    tol = max(2, int(n * 2e-4) + 1)   # two boundaries bound each bucket
    for b in exact:
        assert abs(exact[b] - approx[b]) <= tol, (
            b, exact[b], approx[b], tol
        )


def test_mad_outliers_approx_matches_exact_census(spark):
    """Sketch medians move by at most a handful of ranks (accuracy
    10000 => rank error <= n * 1e-4), so the 3*MAD flag census must
    agree with the exact tier up to the few rows whose |deviation|
    sits within the median jitter of the gate."""
    from flexcalc_spark import registry

    exact = {
        r.event_type: r
        for r in registry.QUERIES["q_mad_outliers"](spark, SF_DIR).collect()
    }
    approx = {
        r.event_type: r
        for r in registry.QUERIES["q_mad_outliers_approx"](
            spark, SF_DIR
        ).collect()
    }
    assert set(exact) == set(approx)
    for t in exact:
        ex, ap = exact[t], approx[t]
        # medians within sketch tolerance of each other (values span
        # ~[0, 600]; a few ranks of error moves the median by <1%)
        assert abs(ex.med - ap.med) <= max(1.0, 0.02 * abs(ex.med)), (
            t, ex.med, ap.med
        )
        assert abs(ex.mad - ap.mad) <= max(1.0, 0.02 * abs(ex.mad)), (
            t, ex.mad, ap.mad
        )
        # outlier census within a small absolute band
        assert abs(ex.n_outliers - ap.n_outliers) <= max(
            3, int(0.02 * ex.n_outliers)
        ), (t, ex.n_outliers, ap.n_outliers)


def test_rfm_approx_matches_exact_segments(spark):
    """Sketch boundaries may move only customers sitting exactly on a
    decile edge between segments — assert near-total agreement."""
    from flexcalc_spark import registry

    exact = {
        r.o_custkey: r.segment
        for r in registry.QUERIES["q_rfm"](spark, SF_DIR).collect()
    }
    approx = {
        r.o_custkey: r.segment
        for r in registry.QUERIES["q_rfm_approx"](spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    same = sum(1 for k in exact if exact[k] == approx[k])
    assert same / len(exact) >= 0.99, same / len(exact)


@given(
    revs=st.lists(st.integers(1, 10_000), min_size=2, max_size=12),
)
@_slow
def test_allocation_sums_exactly_and_stays_near_share(spark, revs):
    """Hamilton allocation invariants over random revenue vectors,
    driven through the PRODUCTION allocate_budget tail: allocations
    sum EXACTLY to the budget, and each group's allocation is within
    1 unit of its unrounded proportional share."""
    from flexcalc_spark.operators.aggregates import allocate_budget

    BUDGET = 1_000_000
    df = spark.createDataFrame(
        [(f"g{i}", r) for i, r in enumerate(revs)], "n_name string, r long"
    )
    out = {r.n_name: r.alloc for r in allocate_budget(df, BUDGET).collect()}
    assert sum(out.values()) == BUDGET, out
    total = sum(revs)
    for i, r in enumerate(revs):
        exact = BUDGET * r / total
        assert abs(out[f"g{i}"] - exact) < 1.0 + 1e-9, (i, r, exact)


def test_allocation_exact_past_bigint_overflow_bound(spark):
    """The share product budget x total_cents crosses 2^63 at
    ~total_cents 9.2e12 (the old silent-wraparound cliff, ADVICE r5).
    Drive allocate_budget with weights whose total is ~40x past that
    bound and check bit-exactness against Python big-int arithmetic —
    a BIGINT product would wrap and misallocate silently."""
    from flexcalc_spark.operators.aggregates import allocate_budget

    BUDGET = 1_000_000
    # total ~3.7e14 -> budget * total ~3.7e20 >> 2^63 ~ 9.2e18
    revs = [93_000_000_000_007, 181_000_000_000_013, 97_000_000_000_001]
    df = spark.createDataFrame(
        [(f"g{i}", r) for i, r in enumerate(revs)], "n_name string, r long"
    )
    out = {r.n_name: r.alloc for r in allocate_budget(df, BUDGET).collect()}
    # Python reference (exact big-int Hamilton)
    total = sum(revs)
    fl = [(BUDGET * r) // total for r in revs]
    rem = [(BUDGET * r) % total for r in revs]
    k = BUDGET - sum(fl)
    order = sorted(range(len(revs)), key=lambda i: (-rem[i], f"g{i}"))
    expect = dict()
    for rk, i in enumerate(order):
        expect[f"g{i}"] = fl[i] + (1 if rk < k else 0)
    assert out == expect, (out, expect)
    assert sum(out.values()) == BUDGET


@given(
    iv=st.lists(
        st.tuples(st.integers(0, 1000), st.integers(1, 120)),
        min_size=1,
        max_size=25,
    ),
)
@_slow
def test_interval_coalesce_covers_exact_union(spark, iv):
    """The coalesced covered time must equal the measure of the union
    of intervals (Python reference on random interval sets)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = [(1, i, s, s + d) for i, (s, d) in enumerate(iv)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, s long, e long"
    )
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "new_iv",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0),
    )
    grouped = flagged.withColumn(
        "gid",
        F.sum("new_iv").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    covered = (
        grouped.groupBy("user_id", "gid")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .agg(F.sum(F.col("me") - F.col("ms")))
        .collect()[0][0]
    )
    # Python reference: sorted sweep union measure
    ints = sorted((s, s + d) for s, d in iv)
    ref, cur_s, cur_e = 0, None, None
    for s, e in ints:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                ref += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    ref += cur_e - cur_s
    assert covered == ref, (covered, ref)


def test_pca_matches_numpy_eigh(spark):
    """The power-iteration direction must align with numpy's exact
    top eigenvector of the same covariance (|cos| >= 0.999), and
    q_pca_embed must execute with a sane per-label census."""
    import numpy as np

    from flexcalc_spark import registry
    from flexcalc_spark.operators.vectors import pca_top_eigvec

    v, n = pca_top_eigvec(spark, SF_DIR)
    emb = np.vstack(
        [
            r.embedding
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("embedding")
            .collect()
        ]
    ).astype(np.float64)
    assert n == emb.shape[0]
    cov = np.cov(emb, rowvar=False, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    cos = abs(float(np.dot(v, top)))
    assert cos >= 0.999, cos
    out = registry.QUERIES["q_pca_embed"](spark, SF_DIR).collect()
    assert len(out) == 10                      # labels 0..9
    assert all(r.var_q >= 0 for r in out)
    assert sum(r.n for r in out) == emb.shape[0]


@pytest.mark.skipif(platform.machine() != "x86_64",
                    reason="OPENBLAS_CORETYPE names x86_64 kernels")
def test_pca_eigvec_independent_of_blas_kernel():
    """q_pca_embed inlines its eigenvector as plan literals, so the vector
    must not depend on the OpenBLAS kernel numpy picked for the CPU: the
    key's helpers, run in one child per forced kernel over three batches
    of the fixture embeddings, must agree bit for bit (``x.T @ x`` and
    ``cov @ v`` give three different vectors here)."""
    code = (
        "import numpy as np, pyarrow.parquet as pq\n"
        "from flexcalc_spark.operators.vectors import gram_partial, top_eigvec\n"
        f"col = pq.read_table({SF_DIR + '/embeddings.parquet'!r}).column('embedding')\n"
        "x = np.array(col.to_pylist(), dtype=np.float64)\n"
        "print(repr(top_eigvec([gram_partial(b) for b in np.array_split(x, 3)])))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = {
        core: subprocess.run(
            [sys.executable, "-c", code], cwd=root, capture_output=True,
            text=True, check=True,
            env=dict(os.environ, OPENBLAS_CORETYPE=core),
        ).stdout
        for core in ("Prescott", "Sandybridge", "Haswell")
    }
    assert len(set(outs.values())) == 1, outs


@given(
    gaps=st.lists(
        st.integers(min_value=0, max_value=200_000_000), min_size=1,
        max_size=200,
    ),
    n_groups=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_debounce_anchor_mask_matches_naive_fold(gaps, n_groups):
    """The vectorized anchor-debounce mask (dense-run resolution) must
    equal the naive greedy fold on arbitrary gap sequences — including
    zero gaps, exact-threshold gaps, and multi-group frames."""
    import pandas as pd

    from flexcalc_spark.operators.timeseries import DEBOUNCE_US
    from flexcalc_spark.streaming.stateful import _debounce_anchor_mask

    rows = []
    eid = 0
    for g in range(n_groups):
        ts = 1_700_000_000_000_000 + g  # distinct group epochs
        for i, gap in enumerate(gaps):
            if i:
                ts += gap
            rows.append((eid, g % 2, f"t{g}", ts))
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts_us"]
    ).sort_values(["user_id", "event_type", "ts_us", "event_id"])
    pdf = pdf.reset_index(drop=True)

    got = _debounce_anchor_mask(pdf)

    want = []
    last_key, last_kept = None, None
    for r in pdf.itertuples(index=False):
        key = (r.user_id, r.event_type)
        if key != last_key or r.ts_us - last_kept > DEBOUNCE_US:
            want.append(True)
            last_key, last_kept = key, r.ts_us
        else:
            want.append(False)
    assert list(got) == want


def test_split_dedup_safe_no_pair_straddles(spark):
    """The leakage guarantee: every near-dup pair's endpoints land in
    the same split with the same cluster root; every document gets
    exactly one assignment; singletons root at their own doc_id."""
    from flexcalc_spark.operators.dedup import _neardup_pairs

    rows = registry.QUERIES["q_split_dedup_safe"](spark, SF_DIR).collect()
    assign = {r.doc_id: (r.cluster_root, r.split) for r in rows}
    n_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    )
    assert len(rows) == len(assign) == n_docs
    assert set(s for _, s in assign.values()) <= {"train", "eval"}
    pairs = _neardup_pairs(spark, SF_DIR).select("id_a", "id_b").collect()
    assert pairs, "fixture must contain near-dup pairs for this test"
    paired = set()
    for p in pairs:
        assert assign[p.id_a] == assign[p.id_b], (p.id_a, p.id_b)
        paired.update((p.id_a, p.id_b))
    for doc_id, (root, _) in assign.items():
        if doc_id not in paired:
            assert root == doc_id  # singleton is its own root
        else:
            assert root <= doc_id  # component min


# ---------------------------------------------------------------------------
# codec properties (round-10 continuation: avro + snappy)
# ---------------------------------------------------------------------------

_avro_value = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(-(2**63), 2**63 - 1),
        st.text(max_size=40),
        st.binary(max_size=40),
        st.floats(allow_nan=False, width=64),
    ),
    lambda children: st.lists(children, max_size=5)
    | st.dictionaries(st.text(max_size=8), children, max_size=5),
    max_leaves=12,
)


def _schema_for(v):
    """Derive the narrowest single-type Avro schema for a generated
    Python value (unions only for None-able leaves)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, bytes):
        return "bytes"
    if isinstance(v, list):
        inner = _schema_for(v[0]) if v else "long"
        return {"type": "array", "items": inner}
    if isinstance(v, dict):
        inner = _schema_for(next(iter(v.values()))) if v else "long"
        return {"type": "map", "values": inner}
    raise AssertionError(type(v))


def _homogenize(v):
    """Coerce a generated container to one element type (Avro arrays and
    maps are homogeneous) by keeping the first element's type."""
    if isinstance(v, list):
        if not v:
            return v
        head = _homogenize(v[0])
        return [x for x in (_homogenize(y) for y in v)
                if _schema_for(x) == _schema_for(head)]
    if isinstance(v, dict):
        items = [(k, _homogenize(x)) for k, x in v.items()]
        if not items:
            return {}
        head_t = _schema_for(items[0][1])
        return {k: x for k, x in items if _schema_for(x) == head_t}
    return v


@given(v=_avro_value, codec=st.sampled_from(["null", "deflate", "snappy"]))
@settings(max_examples=60, deadline=None)
def test_avro_roundtrip_property(v, codec):
    """write_container(read_container(x)) == x for any value the type
    system can carry — schema derived per example, all three codecs."""
    from flexcalc_spark.sources import avrocodec as av

    v = _homogenize(v)
    schema = {
        "type": "record",
        "name": "P",
        "fields": [{"name": "v", "type": _schema_for(v)}],
    }
    recs = [{"v": v}] * 3
    _, back = av.read_container(av.write_container(schema, recs, codec=codec))
    assert back == recs


@given(data=st.binary(max_size=300_000))
@settings(max_examples=40, deadline=None)
def test_snappy_roundtrip_property(data):
    from flexcalc_spark.sources import snappycodec as sn

    assert sn.decompress(sn.compress(data)) == data


@given(
    seed=st.integers(0, 10**6),
    n=st.integers(1, 400),
    alpha=st.integers(2, 5),
)
@settings(max_examples=30, deadline=None)
def test_snappy_roundtrip_low_entropy_property(seed, n, alpha):
    """Low-alphabet inputs maximize match/copy density (incl. the
    overlapping-copy path) — the regime the binary strategy rarely
    reaches."""
    import random

    from flexcalc_spark.sources import snappycodec as sn

    rng = random.Random(seed)
    data = bytes(rng.choices(range(alpha), k=n * 100))
    assert sn.decompress(sn.compress(data)) == data


@given(
    payloads=st.lists(st.binary(max_size=2000), min_size=1, max_size=8),
    compress=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_warc_roundtrip_property(payloads, compress):
    """Any byte payloads survive the WARC record framing + gzip-member
    walk exactly, whatever CRLF-like bytes they contain (the parser
    must honor Content-Length, never scan payload bytes for
    terminators)."""
    from flexcalc_spark.sources import warc as wc

    recs = [
        wc.build_record("resource", p, uri=f"urn:x:{i}",
                        content_type="application/octet-stream")
        for i, p in enumerate(payloads)
    ]
    parsed = wc.parse_warc(wc.write_warc(recs, compress=compress))
    assert [r["payload"] for r in parsed] == payloads
    assert [r["uri"] for r in parsed] == [
        f"urn:x:{i}" for i in range(len(payloads))
    ]


@given(
    members=st.dictionaries(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Nd"), max_codepoint=127
            ),
            min_size=1,
            max_size=20,
        ),
        st.binary(max_size=3000),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=30, deadline=None)
def test_tar_member_roundtrip_property(members):
    """Arbitrary member names/bytes survive the tar pack the graded
    archive key writes (deterministic headers) through the ACTUAL
    expand_archives core (_expand_blob), not a stdlib self-check."""
    import io
    import tarfile

    from flexcalc_spark.sources.binaryfiles import _expand_blob

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    rows = _expand_blob("a.tar", buf.getvalue())
    got = {member: content for _a, member, content in rows}
    assert got == members
    assert all(a == "a.tar" for a, _m, _c in rows)


def _micro_table(spark, tmp_path, name, rows, schema):
    """Write a one-file parquet table usable as tmp_path sf_dir (the
    test_streaming micro-corpus pattern)."""
    import os
    import shutil

    d = tmp_path / ("_" + name)
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    f = [x for x in os.listdir(d) if x.endswith(".parquet")][0]
    os.rename(d / f, tmp_path / f"{name}.parquet")
    shutil.rmtree(d)


def test_mad_exact_rational_parity_edges(spark, tmp_path):
    """r14: the exact-rational MAD rank math, pinned on a hand-computed
    micro corpus covering both group parities and the n=1 edge. For
    [1,2,10] (odd) med=2, mad=1, one outlier (|10-2|=8 > 3); for
    [1,2,3,7] (even) med=2.5 via (lo+hi)/2, mad=1, one outlier; a
    singleton group yields mad=0 and zero outliers (2*0 > 3*0 false).
    Also cross-checks the DuckDB oracle on the same micro table."""
    import datetime as dt

    import duckdb

    rows = []
    eid = 0
    for t, vals in [("odd", [1.0, 2.0, 10.0]),
                    ("even", [1.0, 2.0, 3.0, 7.0]),
                    ("single", [5.5])]:
        for v in vals:
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1), 1, t, v, "{}"))
    _micro_table(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r.event_type: (r.med, r.mad, r.n_outliers)
        for r in registry.QUERIES["q_mad_outliers"](
            spark, str(tmp_path)
        ).collect()
    }
    expect = {"odd": (2.0, 1.0, 1), "even": (2.5, 1.0, 1),
              "single": (5.5, 0.0, 0)}
    assert got == expect, got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{tmp_path}/events.parquet')"
    )
    orc = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            registry.ORACLES["q_mad_outliers"]
        ).fetchall()
    }
    assert orc == expect, orc


def test_equidepth_exact_rational_parity_edges(spark, tmp_path):
    """r14: the exact-rational decile boundary math, pinned by hand.
    n=11 puts every decile on an exact rank (m=0, boundary = the
    (i+1)-th order statistic; strict compare leaves values 1-2 in
    bucket 0, then one per bucket); n=3 exercises the interpolated
    m != 0 path (boundaries 1.2/1.4/.../3.6 -> buckets 0, 4, 9).
    Cross-checked against the DuckDB oracle on the same micro table."""
    import duckdb

    def lineitem_rows(prices):
        return [
            (i + 1, 1, 1, 1, 1.0, p, 0.0, 0.0, "N", "O",
             __import__("datetime").datetime(2024, 1, 1))
            for i, p in enumerate(prices)
        ]

    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp"
    )

    # case 1: n=11, all m=0
    _micro_table(spark, tmp_path, "lineitem",
                 lineitem_rows([float(i) for i in range(1, 12)]), schema)
    got = {
        r.bucket: (r.cnt, r.lo, r.hi)
        for r in registry.QUERIES["q_histogram_equidepth"](
            spark, str(tmp_path)
        ).collect()
    }
    expect = {0: (2, 1.0, 2.0)}
    expect.update({b: (1, float(b + 2), float(b + 2)) for b in range(1, 10)})
    assert got == expect, got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM"
        f" read_parquet('{tmp_path}/lineitem.parquet')"
    )
    orc = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            registry.ORACLES["q_histogram_equidepth"]
        ).fetchall()
    }
    assert orc == expect, orc

    # case 2: n=3 -> interpolated boundaries (cents 100/200/400:
    # bound10 = 1200,1400,1600,1800,2000,2400,2800,3200,3600)
    import os

    os.remove(tmp_path / "lineitem.parquet")
    _micro_table(spark, tmp_path, "lineitem",
                 lineitem_rows([1.0, 2.0, 4.0]), schema)
    got = {
        r.bucket: r.cnt
        for r in registry.QUERIES["q_histogram_equidepth"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {0: 1, 4: 1, 9: 1}, got
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM"
        f" read_parquet('{tmp_path}/lineitem.parquet')"
    )
    orc2 = {
        r[0]: r[1]
        for r in con2.execute(
            registry.ORACLES["q_histogram_equidepth"]
        ).fetchall()
    }
    assert orc2 == {0: 1, 4: 1, 9: 1}, orc2


@given(
    cents=st.lists(st.integers(100, 20000), min_size=1, max_size=40),
)
@settings(max_examples=40, deadline=None)
def test_equidepth_oracle_matches_fraction_reference(cents):
    """The r14 exact-rational decile formula, validated against an
    exact fractions.Fraction quantile reference on random 2-decimal
    price multisets (n = 1..40, every parity and m value): for each
    value, the bucket must equal the count of linear-interpolation
    decile boundaries strictly below it, computed WITHOUT any FP."""
    import duckdb
    from fractions import Fraction

    import pandas as pd

    con = duckdb.connect()
    con.register("raw_cents", pd.DataFrame({"c": cents}))
    con.execute(
        "CREATE VIEW lineitem AS SELECT c / 100.0 AS l_extendedprice"
        " FROM raw_cents"
    )
    got = {
        int(r[0]): int(r[1])
        for r in con.execute(
            registry.ORACLES["q_histogram_equidepth"]
        ).fetchall()
    }
    s = sorted(cents)
    n = len(s)
    bounds = []
    for i in range(1, 10):
        p = Fraction(i * (n - 1), 10)
        k = p.numerator // p.denominator
        frac = p - k
        b = Fraction(s[k]) + frac * (s[min(k + 1, n - 1)] - s[k])
        bounds.append(b)
    expect: dict[int, int] = {}
    for c in cents:
        bkt = sum(1 for b in bounds if b < c)
        expect[bkt] = expect.get(bkt, 0) + 1
    assert got == expect, (got, expect, s)


@given(
    vals=st.lists(
        st.integers(-(10**7), 10**7), min_size=1, max_size=30
    ),
)
@settings(max_examples=40, deadline=None)
def test_mad_oracle_matches_fraction_reference(vals):
    """The r14 doubled-median MAD formula vs an exact Fraction
    reference on random 6-decimal value multisets (negative values
    included — nothing pins events.value >= 0): med, mad, and the
    3*MAD census must all agree exactly."""
    import duckdb
    from fractions import Fraction

    import pandas as pd

    con = duckdb.connect()
    con.register("raw_vals", pd.DataFrame({"v": vals}))
    con.execute(
        "CREATE VIEW events AS SELECT 't' AS event_type,"
        " v / 1000000.0 AS value FROM raw_vals"
    )
    row = con.execute(registry.ORACLES["q_mad_outliers"]).fetchall()
    assert len(row) == 1
    _t, med, mad, n_out = row[0]

    def fmedian(xs):
        s = sorted(xs)
        n = len(s)
        return Fraction(s[(n - 1) // 2] + s[n // 2], 2)

    fm = fmedian(vals)
    ads = [abs(Fraction(v) - fm) for v in vals]
    fmad = fmedian(ads)          # Fraction median of Fractions works:
    # ads are k/2-grid rationals; (a+b)/2 stays exact
    expect_out = sum(1 for a in ads if a > 3 * fmad)
    assert int(n_out) == expect_out, (n_out, expect_out, vals)
    assert med == float(fm / 10**6)
    assert mad == float(fmad / 10**6)


def test_rfm_exact_rational_boundary_micro(spark, tmp_path):
    """r14: hand-computed pin for q_rfm's 0.66 exact-rational boundary
    (the r13 rewrite had only fixture-level oracle equality). Four
    customers with frequencies 1..4 and monetary 10..40: n=4 puts the
    boundary at rank k=1, m=98 — threshold 100*v >= 100*a + 98*(b-a)
    with a=rank2, b=rank3, i.e. frequency >= 2.98 and monetary >=
    29.8 — so customers 3 and 4 are core, 1 and 2 tail. Cross-checked
    against the DuckDB oracle on the same micro table."""
    import datetime as dt

    import duckdb

    rows = []
    okey = 0
    d = dt.datetime(2024, 1, 1)
    for cust, (freq, total) in enumerate(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], start=1
    ):
        per = total / freq
        for _ in range(freq):
            okey += 1
            rows.append((okey, cust, "O", per, d, "1-URGENT"))
    _micro_table(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    expect = {1: (0, 1, 10.0, "tail"), 2: (0, 2, 20.0, "tail"),
              3: (0, 3, 30.0, "core"), 4: (0, 4, 40.0, "core")}
    got = {
        r.o_custkey: (r.recency_days, r.frequency, r.monetary, r.segment)
        for r in registry.QUERIES["q_rfm"](spark, str(tmp_path)).collect()
    }
    assert got == expect, got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM"
        f" read_parquet('{tmp_path}/orders.parquet')"
    )
    orc = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(registry.ORACLES["q_rfm"]).fetchall()
    }
    assert orc == expect, orc


@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=30),
)
@settings(max_examples=40, deadline=None)
def test_sax_discrete_bounds_match_sorted_index_reference(vals):
    """r14: the shared SAX boundary CTEs select DISCRETE lower
    (type-1) quartiles — the value at sorted index (k*(n-1))//4 —
    with no interpolation arithmetic. Validated against plain Python
    list indexing over random multisets (duplicates, negatives, and
    the n=1 edge included); ties are value-identical so row_number
    tie order cannot matter."""
    import duckdb
    import pandas as pd

    from flexcalc_spark.operators.trajectory import SAX_BOUNDS_CTES_SQL

    con = duckdb.connect()
    con.register("raw_means", pd.DataFrame({"m": [float(v) for v in vals]}))
    row = con.execute(
        f"WITH means AS (SELECT m FROM raw_means),\n{SAX_BOUNDS_CTES_SQL}"
        "\nSELECT b1, b2, b3 FROM bounds"
    ).fetchall()[0]
    s = sorted(vals)
    n = len(s)
    expect = tuple(float(s[(k * (n - 1)) // 4]) for k in (1, 2, 3))
    assert row == expect, (row, expect, s)
