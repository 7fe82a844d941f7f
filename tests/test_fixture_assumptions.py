"""Fixture-assumption canaries (the ADVICE-r4 HLL-guard pattern,
generalized): /root/testdata is REGENERATED between rounds, and several
keys embed data-derived values in SQL literals or rely on value-domain
bounds for integer-grid exactness. Each test here fails LOUDLY at round
start if a regeneration crosses an assumption that would otherwise
surface only as a silent driver-hash mismatch.

Run at every round start (part of the default suite).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.conftest import SF_DIR

SFS = [SF_DIR, "/root/testdata/sf0.01"]


@pytest.fixture(scope="module")
def duck2():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.mark.parametrize("sf", SFS)
def test_corpus_charset_is_sql_literal_safe(duck2, sf):
    """q_bpe_tokenize embeds learned merge pairs as SQL string literals
    (and the char-spacing regex assumes single-byte symbols): the
    corpus must stay lowercase ASCII words + spaces — a regeneration
    introducing quotes/backslashes/unicode would break the literal
    embedding, not just the hash."""
    bad = duck2.execute(
        f"""SELECT COUNT(*) FROM read_parquet('{sf}/documents.parquet')
            WHERE regexp_matches(lower(text), '[^a-z0-9 ]')"""
    ).fetchone()[0]
    assert bad == 0, f"{bad} docs contain chars outside [a-z0-9 ]"


@pytest.mark.parametrize("sf", SFS)
def test_lineitem_decimal_precision(duck2, sf):
    """q_regression_multi / q_allocate floor(x*100+0.5) grids assume
    quantity/discount/extendedprice carry exactly 2 decimals."""
    row = duck2.execute(
        f"""SELECT
              MAX(abs(l_quantity*100 - round(l_quantity*100))),
              MAX(abs(l_discount*100 - round(l_discount*100))),
              MAX(abs(l_extendedprice*100 - round(l_extendedprice*100)))
            FROM read_parquet('{sf}/lineitem.parquet')"""
    ).fetchone()
    for v in row:
        assert v < 1e-6, f"lineitem values are no longer 2-decimal: {row}"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.1"])
def test_event_value_domain(duck2, sf):
    """Grid overflow bounds for the 1e-6 value^2 grids (q_ab_test qa/qb,
    q_anomaly_rolling qg): a grouped SUM of floor(value^2*1e6) must fit
    signed 64-bit on the LARGEST grading scale, because Spark's BIGINT
    SUM wraps silently while DuckDB promotes to HUGEINT (ADVICE r5) —
    the overflow would surface only as a driver-hash mismatch. Bound is
    computed from actual row count, not a fixed ceiling: at the old
    hi<=10000 allowance, sf0.1's 100k rows give ~1e19 > 2^63."""
    hi, n = duck2.execute(
        f"SELECT MAX(value), COUNT(*) FROM read_parquet('{sf}/events.parquet')"
    ).fetchone()
    lo = duck2.execute(
        f"SELECT MIN(value) FROM read_parquet('{sf}/events.parquet')"
    ).fetchone()[0]
    assert lo >= 0.0, lo
    # 4x margin: group-level sums are <= the global sum bound.
    assert hi * hi * 1e6 * n < 2**63 / 4, (
        f"value^2*1e6 grid can overflow BIGINT SUM: max={hi}, rows={n}, "
        f"worst-case sum={hi * hi * 1e6 * n:.3g} vs 2^63={2**63:.3g}"
    )


@pytest.mark.parametrize("sf", SFS)
def test_embedding_dimension(duck2, sf):
    """multimodal (8x8 image / 4x16 frames / 4x16 audio windows) and CT
    voxel unpacking assume exactly 64-dim embeddings."""
    lo, hi = duck2.execute(
        f"""SELECT MIN(len(embedding)), MAX(len(embedding))
            FROM read_parquet('{sf}/embeddings.parquet')"""
    ).fetchone()
    assert lo == 64 and hi == 64, (lo, hi)


@pytest.mark.parametrize("sf", SFS)
def test_recursive_seed_supplier_exists(duck2, sf):
    """q_sql_recursive's BFS anchors on supplier key 1 (node id 3)."""
    n = duck2.execute(
        f"""SELECT COUNT(*) FROM read_parquet('{sf}/lineitem.parquet')
            WHERE l_suppkey = 1"""
    ).fetchone()[0]
    assert n > 0, "supplier 1 vanished from lineitem — recursive seed dead"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_logistic_train_floor_boundary_margin(duck2, sf):
    """q_logistic_train floors per-row gradient terms onto the 1e-6
    grid; Spark and DuckDB exp() differ by ~1 ulp, so a row whose
    floor argument sits within ~1e-10 of an integer boundary would
    flip the grid cell — and with it the learned weights — between
    engines (builder self-flagged, VERDICT r5 #6). Replay the training
    trajectory and assert every per-row floor argument keeps a margin
    >= 1e-8 (100x the cross-engine exp ulp), and that no row's final
    decision argument w0*x+w1 sits within 1e-8 of the sig>=0.5 flip."""
    from flexcalc_spark.operators.features import (
        LOGIT_ITERS,
        LOGIT_LR,
        _logit_terms,
    )

    duck2.execute(
        f"""CREATE OR REPLACE TEMP TABLE logit_feat AS
            SELECT o_totalprice / 100000.0 AS x,
                   CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 1.0 ELSE 0.0 END AS y
            FROM read_parquet('{sf}/orders.parquet')"""
    )
    n = duck2.execute("SELECT COUNT(*) FROM logit_feat").fetchone()[0]
    w0, w1 = 0.0, 0.0
    worst = 1.0
    for it in range(LOGIT_ITERS):
        g0, g1 = _logit_terms(repr(w0), repr(w1))
        # distance of each floor argument from its nearest boundary:
        # floor(v + 0.5) flips where (v + 0.5) crosses an integer.
        # Iteration 0 is exempt: w=(0,0) makes sig exactly 0.5 on every
        # engine (exp(0)=1 has no ulp error), so its exactly-on-boundary
        # arguments are bit-deterministic, not at risk.
        if it > 0:
            for raw in (
                f"({_sig(w0, w1)} - y) * x * 1000000.0 + 0.5",
                f"({_sig(w0, w1)} - y) * 1000000.0 + 0.5",
            ):
                m = duck2.execute(
                    f"""SELECT MIN(LEAST(mod(mod({raw}, 1) + 1, 1),
                                         1 - mod(mod({raw}, 1) + 1, 1)))
                        FROM logit_feat"""
                ).fetchone()[0]
                worst = min(worst, m)
        s0, s1 = duck2.execute(
            f"SELECT SUM({g0}), SUM({g1}) FROM logit_feat"
        ).fetchone()
        w0 = w0 - LOGIT_LR * (s0 / 1000000.0 / n)
        w1 = w1 - LOGIT_LR * (s1 / 1000000.0 / n)
    assert worst >= 1e-8, (
        f"a gradient floor argument sits {worst:.3g} from a boundary — "
        "one exp ulp from a silent cross-engine weight flip"
    )
    zmin = duck2.execute(
        f"SELECT MIN(abs(({w0!r}) * x + ({w1!r}))) FROM logit_feat"
    ).fetchone()[0]
    assert zmin >= 1e-8, (
        f"a row's decision argument is {zmin:.3g} from the sig>=0.5 flip"
    )


def _sig(w0: float, w1: float) -> str:
    return f"(1.0 / (1.0 + exp(-(({w0!r}) * x + ({w1!r})))))"


@pytest.mark.parametrize("sf", SFS)
def test_ab_arms_populated(duck2, sf):
    """q_ab_test divides by per-arm counts; both user-parity arms must
    hold >=2 events for every event_type (the z guard clamps n<2, but
    empty arms exercise the NULL-vs-nan canon edge — keep them
    impossible instead)."""
    short = duck2.execute(
        f"""SELECT COUNT(*) FROM (
              SELECT event_type, user_id % 2 AS arm, COUNT(*) AS n
              FROM read_parquet('{sf}/events.parquet')
              GROUP BY event_type, arm
              HAVING COUNT(*) < 2
            )"""
    ).fetchone()[0]
    assert short == 0, f"{short} (event_type, arm) cells hold <2 events"


@pytest.mark.parametrize("sf", SFS + ["/root/testdata/sf0.1"])
def test_did_cells_populated(duck2, sf):
    """q_diff_in_diff divides by each 2x2 (arm x pre/post-midpoint)
    cell count per event_type; an empty cell is a double 0/0 whose
    NULL-vs-IEEE handling diverges between Spark and DuckDB (silent
    hash mismatch). Assert all 4 cells per event_type are populated
    (ADVICE r7 — the q_ab_test canary, extended with the time split)."""
    empty = duck2.execute(
        f"""WITH c AS (
              SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS cut
              FROM read_parquet('{sf}/events.parquet')
            ),
            cells AS (
              SELECT event_type, user_id % 2 AS arm,
                     CASE WHEN epoch_us(ts) < c.cut THEN 0 ELSE 1 END
                         AS post,
                     COUNT(*) AS n
              FROM read_parquet('{sf}/events.parquet') CROSS JOIN c
              GROUP BY 1, 2, 3
            )
            SELECT COUNT(DISTINCT event_type) * 4 - COUNT(*) FROM cells"""
    ).fetchone()[0]
    assert empty == 0, f"{empty} empty (event_type, arm, period) DiD cells"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.1"])
def test_round7_cross_multiplication_headroom(duck2, sf):
    """The round-7 TPC-H keys compare via exact integer
    cross-multiplication on 1e-6 grids; each product must keep >=1000x
    headroom under 2^63 at sf0.1 (the q_win_distribution lesson: an
    overflow grades green at sf0.01 and throws one scale factor up).
    Bounds are computed from ACTUAL fixture magnitudes so a fixture
    regeneration that inflates value domains fails loudly here.

    Measured cliffs (sf0.1 fixture): Q11's share product v*20 is the
    tightest at 3.13e16 (~295x under 2^63 — overflows around sf~30 of
    this fixture; at that scale drop the grid to 1e-4 or ride
    DECIMAL(38), the q_allocate precedent). Everything else keeps
    >= 3 decades."""
    lim = 2**63 / 100  # >= two decades of scale headroom

    # Q11: v * 20 where v = per-nation grid revenue sum
    v_max = duck2.execute(
        f"""SELECT MAX(v) FROM (
              SELECT s_nationkey,
                     SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)
                         *1000000.0+0.5) AS BIGINT)) AS v
              FROM read_parquet('{sf}/lineitem.parquet') li
              JOIN read_parquet('{sf}/supplier.parquet') su
                ON s_suppkey = l_suppkey
              GROUP BY s_nationkey)"""
    ).fetchone()[0]
    assert v_max * 20 < lim, f"Q11 share product at {v_max * 20:.3g}"

    # Q17: 5 * qty_g * per-part line count
    q17 = duck2.execute(
        f"""SELECT MAX(cnt), MAX(sq) FROM (
              SELECT l_partkey, COUNT(*) AS cnt,
                     SUM(CAST(FLOOR(l_quantity*1000000.0+0.5)
                         AS BIGINT)) AS sq
              FROM read_parquet('{sf}/lineitem.parquet')
              GROUP BY l_partkey)"""
    ).fetchone()
    qty_g_max = 50 * 1_000_000  # quantity domain canary below caps it
    assert 5 * qty_g_max * q17[0] < lim, f"Q17 cut at {5*qty_g_max*q17[0]:.3g}"

    # Q20: q * per-part pair count vs 3 * per-part total
    q20 = duck2.execute(
        f"""SELECT MAX(total) * MAX(cnt) FROM (
              SELECT l_partkey,
                     COUNT(DISTINCT l_suppkey) AS cnt,
                     SUM(CAST(FLOOR(l_quantity*1000000.0+0.5)
                         AS BIGINT)) AS total
              FROM read_parquet('{sf}/lineitem.parquet')
              GROUP BY l_partkey)"""
    ).fetchone()[0]
    assert q20 < lim, f"Q20 dominance product at {q20:.3g}"

    # Q22: bal_g * positive-balance customer count
    q22 = duck2.execute(
        f"""SELECT MAX(CAST(FLOOR(abs(c_acctbal)*1000000.0+0.5)
                       AS BIGINT)) * COUNT(*)
            FROM read_parquet('{sf}/customer.parquet')"""
    ).fetchone()[0]
    assert q22 < lim, f"Q22 avg cross-product at {q22:.3g}"

    # q_survival: n_surviving * 1e6 ; q_market_basket: cxy * n * 1e4
    n_users = duck2.execute(
        f"""SELECT COUNT(DISTINCT user_id)
            FROM read_parquet('{sf}/events.parquet')"""
    ).fetchone()[0]
    assert n_users * 1_000_000 < lim
    n_orders = duck2.execute(
        f"""SELECT COUNT(DISTINCT l_orderkey)
            FROM read_parquet('{sf}/lineitem.parquet')"""
    ).fetchone()[0]
    # cxy <= basket count <= n_orders
    assert n_orders * n_orders * 10000 < lim, (
        f"market-basket lift numerator at {n_orders*n_orders*10000:.3g}"
    )

    # quantity domain cap backing the Q17 constant above
    qmax = duck2.execute(
        f"""SELECT MAX(l_quantity)
            FROM read_parquet('{sf}/lineitem.parquet')"""
    ).fetchone()[0]
    assert qmax <= 50, f"l_quantity domain grew to {qmax}"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.1"])
def test_sssp_weight_sum_headroom(duck2, sf):
    """q_sssp_cost sums up to SSSP_ROUNDS grid-quantized prices per
    path; the worst-case path cost must keep >=1000x headroom under
    2^63 so a fixture regeneration that inflates the price domain
    fails loudly instead of overflowing one scale factor up."""
    from flexcalc_spark.operators.graph import SSSP_ROUNDS

    max_w = duck2.execute(
        f"""SELECT MAX(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5)
                       AS BIGINT))
            FROM read_parquet('{sf}/lineitem.parquet')"""
    ).fetchone()[0]
    worst = SSSP_ROUNDS * max_w
    assert worst * 1000 < 2**63, f"sssp path cost at {worst:.3g}"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.1"])
def test_cuped_cross_moment_headroom(duck2, sf):
    """q_cuped sums per-user cents-grid cross-moments (ux*uy, ux*ux) as
    BIGINT; the worst per-user product times the user count must keep
    >=1000x headroom under 2^63 at sf0.1."""
    worst = duck2.execute(
        f"""WITH u AS (
              SELECT SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS s
              FROM read_parquet('{sf}/events.parquet') GROUP BY user_id)
            SELECT MAX(s) * MAX(s) * COUNT(*) FROM u"""
    ).fetchone()[0]
    assert worst * 1000 < 2**63, f"cuped cross-moment bound at {worst:.3g}"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.1"])
def test_rolling_corr_moment_headroom(duck2, sf):
    """q_rolling_corr sums squared daily cents totals over 7-day
    windows as BIGINT; the worst window moment must keep >=1000x
    headroom under 2^63 at sf0.1."""
    worst = duck2.execute(
        f"""WITH d AS (
              SELECT SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS s
              FROM read_parquet('{sf}/events.parquet')
              GROUP BY epoch_us(ts) // 86400000000)
            SELECT MAX(s) * MAX(s) * 7 FROM d"""
    ).fetchone()[0]
    assert worst * 1000 < 2**63, f"rolling-corr moment bound at {worst:.3g}"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.1"])
def test_containment_ppm_headroom(duck2, sf):
    """q_dedup_containment's cont_ppm multiplies the (BIGINT-cast)
    intersection size by 1e6; document the INT cliff the cast removes
    (INT32 wraps at 2148 grams) and keep >=1000x BIGINT headroom."""
    max_grams = duck2.execute(
        f"""SELECT MAX(len(list_distinct(list_transform(
                range(1, LENGTH(text) - 3),
                i -> substring(text, CAST(i AS INT), 5)))))
            FROM read_parquet('{sf}/documents.parquet')
            WHERE LENGTH(text) >= 5"""
    ).fetchone()[0]
    assert max_grams * 1_000_000 * 1000 < 2**63
    # if this trips, docs grew past the old INT32 cliff — the BIGINT
    # cast in dedup.py covers it, but re-check any new INT arithmetic
    assert max_grams < 100_000, f"doc gram count grew to {max_grams}"


def test_containment_oracle_doc_count_budget(duck2):
    """The q_dedup_containment / q_dedup_neardup pair oracles use the
    inverted-index self-join form whose DuckDB cost is quadratic in
    docs-per-token bucket: measured ~1 s at 500 docs (sf0.01, the
    grading scale) but ~90 s at 5,000 (sf0.1). A fixture regeneration
    that grows the sf0.01 documents table 10x would blow the driver's
    grading window — catch it at round start, not in the driver run
    (VERDICT r7 item 7)."""
    n = duck2.execute(
        "SELECT COUNT(*) FROM"
        " read_parquet('/root/testdata/sf0.01/documents.parquet')"
    ).fetchone()[0]
    assert n <= 1200, (
        f"sf0.01 documents grew to {n} rows — the pair-similarity "
        "oracles' DuckDB cost is quadratic; re-budget before grading"
    )
    n1 = duck2.execute(
        "SELECT COUNT(*) FROM"
        " read_parquet('/root/testdata/sf0.1/documents.parquet')"
    ).fetchone()[0]
    if n1 > 8000:
        import warnings

        warnings.warn(
            f"sf0.1 documents at {n1} rows — the ~90 s verify-time "
            "containment oracle will degrade; spot-check budgets"
        )


def test_embed_oracle_vector_count_budget(duck2):
    """q_dedup_embed_lsh / q_dedup_embed_lsh_wide grade against an
    EXACT all-pairs cosine oracle in DuckDB — O(n^2) 64-dim list dot
    products (125k pairs at the current 500-vector sf0.01, a few
    seconds). Same failure mode as the containment oracle's: a fixture
    regeneration that grows sf0.01 embeddings 10x makes the oracle
    ~100x slower and would blow the driver's grading window. Catch it
    at round start (the containment doc-count canary's sibling)."""
    n = duck2.execute(
        "SELECT COUNT(*) FROM"
        " read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    ).fetchone()[0]
    assert n <= 1500, (
        f"sf0.01 embeddings grew to {n} vectors — the exact all-pairs "
        "cosine oracles are quadratic; re-budget before grading"
    )


@pytest.mark.parametrize("sf", SFS + ["/root/testdata/sf0.1"])
def test_target_encode_headroom(duck2, sf):
    """q_target_encode's cleared-denominator encoding multiplies
    n_urgent * total_orders * 1e6 in BIGINT; assert the documented
    ~2M-order overflow bound leaves real margin after a fixture
    regeneration (the integer-cross-multiplication canary pattern)."""
    tn = duck2.execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf}/orders.parquet')"
    ).fetchone()[0]
    # worst case n_urgent == tn: (tn*tn + 20*tn) * 1e6 < 2^63
    worst = (tn * tn + 20 * tn) * 1_000_000
    assert worst * 4 < 2**63, (
        f"orders at {tn} rows leaves <4x headroom for q_target_encode's "
        "BIGINT products — move the encoding to per-shard partials"
    )


@pytest.mark.parametrize("sf", SFS)
def test_link_predict_census_budget(duck2, sf):
    """q_link_predict's pair census is sum(supplier_degree^2)/2 within
    brand blocks — quadratic in hub degree (documented). Assert the
    sf0.01 grading-scale census stays inside the oracle's time budget
    after a fixture regeneration (the containment-canary pattern)."""
    inst = duck2.execute(
        f"""
        WITH e AS (SELECT DISTINCT l_partkey, l_suppkey
                   FROM read_parquet('{sf}/lineitem.parquet')),
        d AS (SELECT l_suppkey, COUNT(*) AS deg FROM e GROUP BY 1)
        SELECT SUM(deg * (deg - 1) / 2) FROM d
        """
    ).fetchone()[0]
    # unblocked census (upper bound on the brand-blocked one); 13.4M at
    # the current sf0.01 runs in ~2 s — alert at ~6x that
    assert inst < 80_000_000, (
        f"{sf} unblocked pair census at {inst:.0f} — the link-predict "
        "oracle budget needs re-checking before grading"
    )


@pytest.mark.parametrize("sf", SFS)
def test_round10_dtw_overflow_headroom(duck2, sf):
    """q_trajectory_dtw's DP adds |grid-mean| differences along a
    <=15-cell warping path with a 4e15 BIGINT boundary sentinel; a
    fixture regen that inflates events.value could shrink the overflow
    margin. Assert the worst-case path cost keeps >=100x headroom under
    2^63 even when chained onto the sentinel."""
    from flexcalc_spark.operators.trajectory import DTW_INF, SEGMENTS

    max_abs = duck2.execute(
        f"""
        WITH ordered AS (
            SELECT user_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) - 1
                       AS i,
                   COUNT(*) OVER (PARTITION BY user_id) AS n,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vg
            FROM read_parquet('{sf}/events.parquet')),
        seg AS (SELECT user_id, (i * {SEGMENTS}) // n AS s,
                       SUM(vg) AS sg, COUNT(*) AS c
                FROM ordered GROUP BY 1, 2)
        SELECT MAX(ABS(sg // c)) FROM seg
        """
    ).fetchone()[0]
    path_cells = 2 * SEGMENTS - 1
    worst = DTW_INF + path_cells * 2 * max_abs
    assert worst * 100 < 2**63, (
        f"{sf}: DTW worst-case {worst} leaves <100x BIGINT headroom — "
        "shrink DTW_INF or rescale the grid before grading"
    )


@pytest.mark.parametrize("sf", SFS)
def test_round13_moment_and_boundary_headroom(duck2, sf):
    """r13 review: q_autocorr's squared daily moments (sxx/syy/sxy),
    q_changepoint's n*C_i / i*S CUSUM products, and q_rfm's exact
    boundary comparison (100*v vs 100*a + r*(b-a), r <= 99) are BIGINT
    cross-products with no prior canary. Each must keep >= 100x
    headroom under 2^63 on the ACTUAL fixture so a value-domain
    inflation at regen fails loudly here instead of wrapping silently
    one scale factor up (the round-7 q_win_distribution lesson)."""
    lim = 2**63 / 100

    # sign-robust magnitudes (r13 review pass 2): a regen introducing
    # negative values must not slip past a MAX/SUM-based bound
    xmag, smag, n = duck2.execute(
        f"""SELECT GREATEST(MAX(x), -MIN(x)), SUM(ABS(x)), COUNT(*)
            FROM (
              SELECT CAST(SUM(CAST(floor(value + 0.5) AS BIGINT))
                          AS BIGINT) AS x
              FROM read_parquet('{sf}/events.parquet')
              GROUP BY epoch_us(ts) // 86400000000)"""
    ).fetchone()
    # autocorr: |sxx| <= n_pairs * xmag^2 with n_pairs < n days
    assert int(xmag) * int(xmag) * int(n) < lim, (
        f"{sf}: autocorr squared-moment bound {xmag}^2*{n}"
    )
    # changepoint: |n*C_i| and |i*S| are both <= n * SUM(|x|)
    assert int(n) * int(smag) < lim, (
        f"{sf}: changepoint n*sum|x| at {n}*{smag}"
    )

    mg_mag = duck2.execute(
        f"""SELECT GREATEST(MAX(mg), -MIN(mg)) FROM (
              SELECT SUM(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                              AS BIGINT)) AS mg
              FROM read_parquet('{sf}/orders.parquet')
              GROUP BY o_custkey)"""
    ).fetchone()[0]
    # rfm boundary: |100*v| and |r*(b-a)| <= 100*|mg| magnitude
    # (sign-robust like the events bound — nothing pins price >= 0)
    assert 100 * int(mg_mag) < lim, f"{sf}: rfm 100*|mg| at {mg_mag}"


@pytest.mark.parametrize("sf", SFS)
def test_round14_exact_rational_boundary_headroom(duck2, sf):
    """r14 review: the equi-depth and MAD exact tiers introduce new
    BIGINT cross-products — equi-depth's nb*c + m*(b-a) vs nb*cents
    (c = price cents, m <= nb-1, nb = EQUIDEPTH_BUCKETS) with rank
    math i*(n-1) (i <= nb-1), and MAD's 2*ad2 vs 3*mad4 where
    ad2 = |2*vi - med2| <= 4*|vi| and mad4 <= 2*max(ad2) <= 8*|vi| so
    the largest product is 3*mad4 <= 24*|vi| (vi = the 1e-6 value
    grid). Each must keep >= 100x headroom under 2^63 on the ACTUAL
    fixture so a value-domain inflation at regen fails loudly here
    instead of wrapping one scale factor up (the round-7 rule;
    sign-robust magnitudes like the r13 canary)."""
    from flexcalc_spark.operators.aggregates import EQUIDEPTH_BUCKETS

    lim = 2**63 / 100
    nb = EQUIDEPTH_BUCKETS

    c_mag, n = duck2.execute(
        f"""SELECT GREATEST(MAX(c), -MIN(c)), COUNT(*) FROM (
              SELECT CAST(floor(l_extendedprice * 100.0 + 0.5)
                          AS BIGINT) AS c
              FROM read_parquet('{sf}/lineitem.parquet'))"""
    ).fetchone()
    # equi-depth: |nb*c + m*(b-a)| <= nb*|c| + (nb-1)*2*|c| = (3nb-2)*|c|
    assert (3 * nb - 2) * int(c_mag) < lim, (
        f"{sf}: equidepth {3 * nb - 2}*|cents| at {c_mag}"
    )
    # rank arithmetic: i*(n-1) <= (nb-1)*(n-1)
    assert (nb - 1) * (int(n) - 1) < lim, (
        f"{sf}: equidepth {nb - 1}*(n-1) at {n}"
    )

    vi_mag = duck2.execute(
        f"""SELECT GREATEST(MAX(vi), -MIN(vi)) FROM (
              SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
                         AS vi
              FROM read_parquet('{sf}/events.parquet')
              WHERE value IS NOT NULL)"""
    ).fetchone()[0]
    # MAD: 3*mad4 <= 3*2*max(ad2) <= 24*|vi| dominates 2*ad2 <= 8*|vi|
    assert 24 * int(vi_mag) < lim, f"{sf}: MAD 24*|vi| at {vi_mag}"


_SF01 = os.path.join(os.path.dirname(SFS[1]), "sf0.1")


@pytest.mark.parametrize("sf", SFS + [pytest.param(
    _SF01, marks=pytest.mark.skipif(not os.path.isdir(_SF01),
                                    reason="sf0.1 fixture absent"))])
def test_documents_text_never_null(duck2, sf):
    """r14: q_bm25 derives its document count and per-doc length from
    the token-frequency relation (one tokenize pass) instead of a
    second documents scan. The equivalence needs every document to
    contribute >= 1 token row, i.e. text IS NOT NULL (split('') still
    yields one empty-string token row, so empty text is safe — NULL
    text is the only shape that would drop a doc from tf while the
    oracle's COUNT(*) still saw it)."""
    n = duck2.execute(
        f"""SELECT COUNT(*) FROM read_parquet('{sf}/documents.parquet')
            WHERE text IS NULL"""
    ).fetchone()[0]
    assert n == 0, f"{n} NULL-text docs — q_bm25's single-scan N is unsafe"
