"""Recall/structure checks for the approximate (rows-only) operators
against their exact oracle-checked baselines.

Measured at sf0.01: minhash recall = 1.0, knn-lsh recall ≈ 0.46,
knn-ivf recall ≈ 0.42 (isotropic random embeddings have no cluster
structure, so bucket pruning is maximally adversarial here — real
embedding corpora cluster and recall rises accordingly). Bounds below
sit under the measured values to be seed-robust but catch regressions.
"""

from __future__ import annotations

import numpy as np
import pytest

from flexcalc_spark import registry
from tests.conftest import SF_DIR

Q = registry.QUERIES


def test_minhash_recall_vs_exact(spark):
    """LSH(64 perms, 8 bands of 8) must catch every jac>=0.95 pair."""
    exact = {(r.id_a, r.id_b) for r in Q["q_dedup_neardup"](spark, SF_DIR).collect()}
    mh = {(r.id_a, r.id_b) for r in Q["q_dedup_minhash"](spark, SF_DIR).collect()}
    assert exact, "exact near-dup set unexpectedly empty"
    recall = len(exact & mh) / len(exact)
    assert recall >= 0.98, f"minhash recall {recall:.3f} < 0.98"
    # every minhash pair is exact-verified at the same tau => jac >= tau holds
    jacs = [r.jac for r in Q["q_dedup_minhash"](spark, SF_DIR).collect()]
    assert min(jacs) >= 0.95


def test_knn_lsh_recall(spark):
    knn = {(r.probe_id, r.neighbor_id) for r in Q["q_knn_cosine"](spark, SF_DIR).collect()}
    lsh = {(r.probe_id, r.neighbor_id) for r in Q["q_knn_lsh"](spark, SF_DIR).collect()}
    assert knn
    recall = len(knn & lsh) / len(knn)
    assert recall >= 0.25, f"knn-lsh recall {recall:.3f} < 0.25"


def test_knn_ivf_recall(spark):
    knn = {(r.probe_id, r.neighbor_id) for r in Q["q_knn_cosine"](spark, SF_DIR).collect()}
    ivf = {(r.probe_id, r.neighbor_id) for r in Q["q_knn_ivf"](spark, SF_DIR).collect()}
    recall = len(knn & ivf) / len(knn)
    assert recall >= 0.25, f"knn-ivf recall {recall:.3f} < 0.25"


def test_knn_structure(spark):
    """Per-probe: exactly k neighbors, ranks 1..k, cos within [-1, 1]."""
    rows = Q["q_knn_cosine"](spark, SF_DIR).collect()
    by_probe: dict[int, list] = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    for probe, rs in by_probe.items():
        assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
        for x in rs:
            assert -1.0001 <= x.cos <= 1.0001
            assert x.neighbor_id != probe


def test_simhash_structure(spark):
    rows = Q["q_dedup_simhash"](spark, SF_DIR).collect()
    assert rows, "simhash found no pairs on the word-salad fixture (expected many)"
    assert max(r.hamming for r in rows) <= 6
    assert all(r.id_a < r.id_b for r in rows)
    # deterministic across re-runs (fixed hash seeds)
    again = {(r.id_a, r.id_b) for r in Q["q_dedup_simhash"](spark, SF_DIR).collect()}
    assert {(r.id_a, r.id_b) for r in rows} == again


def test_connected_components_log_rounds(spark):
    """Large-star/small-star must converge in ~log n rounds on a long
    chain — the worst case for plain min-label propagation (O(n) rounds
    on a 200-node path)."""
    from flexcalc_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "u long, v long"
    )
    labels, rounds = connected_components(chain)
    rows = labels.collect()
    assert len(rows) == 201
    assert all(r.label == 0 for r in rows)
    assert rounds <= 20, f"chain took {rounds} rounds (expected ~2 log n)"


@pytest.mark.parametrize(
    "seed,n_planes,bands,bits",
    [(20260813, 16, 4, 4), (20260814, 64, 8, 8), (20260814, 64, 4, 16)],
    ids=["knn_4x4", "embed_8x8", "embed_wide_4x16"],
)
def test_sign_band_keys_match_python_fold(spark, seed, n_planes, bands, bits):
    """Every band key equals a pure-Python left fold ``acc += x*y`` of
    the float embedding (widened to double) against the seeded planes,
    its sign bits packed MSB-first, as a BIGINT."""
    from flexcalc_spark.operators.vectors import sign_band_keys
    from flexcalc_spark.tables import table

    keys = sign_band_keys(seed, n_planes, bands, bits)
    df = table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding", *[k.alias(f"k{b}") for b, k in enumerate(keys)]
    )
    assert {t for c, t in df.dtypes if c.startswith("k")} == {"bigint"}
    planes = np.random.RandomState(seed).standard_normal((n_planes, 64)).tolist()
    rows = df.collect()
    assert rows
    for r in rows:
        for b in range(bands):
            want = 0
            for plane in planes[b * bits:(b + 1) * bits]:
                acc = 0.0
                for x, y in zip(r.embedding, plane):
                    acc += float(x) * y
                want = want * 2 + (acc > 0)
            assert r[f"k{b}"] == want, (r.vec_id, b)


def test_embed_lsh_full_recall_on_planted_pairs(spark):
    """q_dedup_embed_lsh's oracle is EXACT all-pairs, so the LSH
    candidate stage must recall every planted pair (cos ~0.999 — misses
    all 8 bands with p ~ 2.6e-8; deterministic under the fixed seed).
    Verified structurally: exactly one pair per planted id, each
    pairing an original with its perturbed copy at cos_q >= 9900."""
    from flexcalc_spark.operators.dedup import (
        EMBED_PLANT_N,
        EMBED_PLANT_OFFSET,
    )

    rows = Q["q_dedup_embed_lsh"](spark, SF_DIR).collect()
    pairs = {(r.id_a, r.id_b) for r in rows}
    expect = {
        (i, i + EMBED_PLANT_OFFSET) for i in range(EMBED_PLANT_N)
    }
    assert pairs == expect, (
        f"planted-pair recall broke: missing {expect - pairs}, "
        f"extra {pairs - expect}"
    )
    assert all(r.cos_q >= 9900 for r in rows)


def test_embed_lsh_wide_full_recall_on_planted_pairs(spark):
    """The 4x16+multiprobe tier grades against the SAME exact all-pairs
    oracle, so its sparser candidates must still recall every planted
    pair. This is the config where plain banding measurably fails
    (4x16 without the Hamming-1 ball missed 1/200 pairs at sf0.01);
    the ball drops per-pair miss to ~2.3e-7 — deterministically zero
    on this corpus (measured at all three sf)."""
    from flexcalc_spark.operators.dedup import (
        EMBED_PLANT_N,
        EMBED_PLANT_OFFSET,
    )

    rows = Q["q_dedup_embed_lsh_wide"](spark, SF_DIR).collect()
    pairs = {(r.id_a, r.id_b) for r in rows}
    expect = {
        (i, i + EMBED_PLANT_OFFSET) for i in range(EMBED_PLANT_N)
    }
    assert pairs == expect, (
        f"planted-pair recall broke: missing {expect - pairs}, "
        f"extra {pairs - expect}"
    )
    assert all(r.cos_q >= 9900 for r in rows)


def test_phash_banding_recall_is_complete(spark):
    """Pigeonhole guarantee: hamming <= 6 over 8 one-byte bands forces
    >= 2 identical bands, so the banded candidate set must contain
    EVERY brute-force near-dup pair — verified exhaustively over all
    signatures."""
    import itertools

    from pyspark.sql import functions as F
    from flexcalc_spark import registry
    from tests.conftest import SF_DIR

    out = {
        (r.id_a, r.id_b)
        for r in registry.QUERIES["q_dedup_phash"](spark, SF_DIR).collect()
    }
    # rebuild signatures exactly as the operator does
    from flexcalc_spark.operators.multimodal import PHASH_MAX_HAMMING
    from flexcalc_spark.tables import table_parallel

    emb = table_parallel(spark, SF_DIR, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    twins = base.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr("transform(e, x -> x * 1.05 + 0.01)").alias("e"),
    )
    sig = {
        r.vec_id: r.bands
        for r in base.unionAll(twins)
        .select(
            "vec_id",
            F.expr(
                "transform(sequence(0, 7), j -> aggregate(sequence(1, 8),"
                " CAST(0 AS BIGINT), (acc, k) -> acc * 2 +"
                " CAST(CASE WHEN element_at(e, 8*j + k) >"
                " aggregate(e, CAST(0.0 AS DOUBLE), (a, x) -> a + x) / 64.0"
                " THEN 1 ELSE 0 END AS BIGINT)))"
            ).alias("bands"),
        )
        .collect()
    }
    ids = sorted(sig)
    brute = set()
    for a, b in itertools.combinations(ids, 2):
        h = sum(bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b]))
        if h <= PHASH_MAX_HAMMING:
            brute.add((a, b))
    assert brute <= out, f"banding missed {sorted(brute - out)[:5]}"
    assert out <= brute, f"false positives {sorted(out - brute)[:5]}"


def test_trajectory_banding_recall_floor(spark):
    """Positional-gram blocking is LSH-style (NOT pigeonhole-complete:
    two symbol changes can touch all six grams). Measure recall against
    brute-force symbol-Hamming pairs and hold the floor; the measured
    figure at sf0.01 is 39/42 = 0.93."""
    import itertools

    from flexcalc_spark import registry
    from tests.conftest import SF_DIR

    out = {
        (r.user_a, r.user_b)
        for r in registry.QUERIES["q_trajectory_sim"](spark, SF_DIR).collect()
    }
    # rebuild words via the graded plan's own intermediates: re-run the
    # registered query without the candidate restriction is not exposed,
    # so brute-force from the oracle word construction in DuckDB
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/events.parquet')"
    )
    from flexcalc_spark.operators.trajectory import SAX_BOUNDS_CTES_SQL

    words = dict(
        con.execute(
            f"""
        WITH ordered AS (
            SELECT user_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) - 1 AS i,
                   COUNT(*) OVER (PARTITION BY user_id) AS n,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vg
            FROM events
        ),
        seg AS (SELECT user_id, (i * 8) // n AS s,
                       CAST(SUM(vg) AS BIGINT) AS sg,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM ordered GROUP BY user_id, (i * 8) // n),
        means AS MATERIALIZED (SELECT user_id, s,
                         CAST(sg AS DOUBLE) / 1000000.0 / c AS m FROM seg),
        {SAX_BOUNDS_CTES_SQL},
        sym AS (SELECT user_id, s,
                       CAST(CASE WHEN m > b3 THEN 3 WHEN m > b2 THEN 2
                                 WHEN m > b1 THEN 1 ELSE 0 END AS BIGINT) AS y
                FROM means, bounds)
        SELECT user_id,
               list_reduce(list_prepend('',
                   list_transform(list_sort(list(
                       lpad(CAST(s AS VARCHAR), 2, '0')
                       || CAST(y AS VARCHAR))),
                       p -> substr(p, 3, 1))), (acc, ch) -> acc || ch)
        FROM sym GROUP BY user_id
        """
        ).fetchall()
    )
    con.close()
    ids = sorted(words)
    brute = {
        (a, b)
        for a, b in itertools.combinations(ids, 2)
        if sum(x != y for x, y in zip(words[a], words[b])) <= 2
    }
    caught = brute & out
    # every emitted pair must be a true near pair (verify is exact)
    assert out <= brute, sorted(out - brute)[:5]
    if brute:
        recall = len(caught) / len(brute)
        assert recall >= 0.8, f"gram-blocking recall fell to {recall:.2f}"


def test_bfs_hops_matches_python_bfs(spark):
    """q_bfs_hops must equal a driver-side BFS over the collected edge
    list — an oracle-independent check of the min-hop-within-4 semantics
    (the SQL oracle is built from the same frontier recurrence, so this
    guards against a shared construction error)."""
    from collections import deque

    from flexcalc_spark.operators.graph import (
        BFS_MAX_HOPS, BFS_SRC_PARTKEYS, _edges,
    )

    adj: dict = {}
    for r in _edges(spark, SF_DIR).collect():
        adj.setdefault(r.src, []).append(r.dst)
    dist = {p * 2: 0 for p in BFS_SRC_PARTKEYS if p * 2 in adj}
    dq = deque(dist)
    while dq:
        u = dq.popleft()
        if dist[u] >= BFS_MAX_HOPS:
            continue
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    got = {(r.node, r.dist) for r in Q["q_bfs_hops"](spark, SF_DIR).collect()}
    assert got == set(dist.items())


def test_sssp_cost_matches_python_bellman_ford(spark):
    """q_sssp_cost must equal a driver-side 4-round Bellman-Ford over
    the collected weighted edge list (oracle-independent check of the
    min-plus recurrence and the integer-grid weights)."""
    from flexcalc_spark.operators.graph import SSSP_ROUNDS, SSSP_SRC_PARTKEYS
    from flexcalc_spark.tables import table
    from pyspark.sql import functions as F

    li = table(spark, SF_DIR, "lineitem")
    w = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5)
                   .cast("bigint")).alias("w"))
        .collect()
    )
    edges = []
    for r in w:
        edges.append((r.l_partkey * 2, r.l_suppkey * 2 + 1, r.w))
        edges.append((r.l_suppkey * 2 + 1, r.l_partkey * 2, r.w))
    dist = {p * 2 for p in SSSP_SRC_PARTKEYS}
    dist = {n: 0 for n in dist if any(s == n for s, _, _ in edges)}
    for _ in range(SSSP_ROUNDS):
        nxt = dict(dist)
        for s, d, wt in edges:
            if s in dist and (d not in nxt or dist[s] + wt < nxt[d]):
                nxt[d] = dist[s] + wt
        dist = nxt
    got = {(r.node, r.mincost) for r in Q["q_sssp_cost"](spark, SF_DIR).collect()}
    assert got == set(dist.items())


def test_containment_boundary_corpus(spark, tmp_path):
    """q_dedup_containment on an engineered micro-corpus with pairs AT
    the 0.8 containment boundary, just under it, full containment, and
    short-in-long asymmetry — compared against a python brute force.
    The fixture corpus never sits on the threshold; this pins the
    ceil(tau*|A|) prefix/threshold arithmetic exactly."""
    import pandas as pd

    from flexcalc_spark.operators.dedup import (
        CONTAIN_DEN, CONTAIN_GRAM, CONTAIN_NUM,
    )

    def doc(*chunks):
        return " ".join(chunks)

    # building blocks: 10-char distinct words -> disjoint 5-gram pools
    w = [f"w{i:08d}" for i in range(40)]
    texts = {
        1: doc(*w[0:10]),                  # base
        2: doc(*w[0:10]),                  # identical twin (cont = 1.0)
        3: doc(*w[0:8], *w[20:22]),        # ~80% of base's grams
        4: doc(*w[0:5], *w[25:30]),        # ~50% — must NOT pair with 1
        5: doc(*w[0:10], *w[30:40]),       # long doc containing base
        6: doc(*w[35:38]),                 # short, inside 5's tail
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(texts[k]) for k in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    def grams(t):
        return {t[i:i + CONTAIN_GRAM] for i in range(len(t) - CONTAIN_GRAM + 1)}

    want = set()
    for a, ta in texts.items():
        for b, tb in texts.items():
            if a == b:
                continue
            ga, gb = grams(ta), grams(tb)
            if len(ga & gb) * CONTAIN_DEN >= CONTAIN_NUM * len(ga):
                want.add((a, b, len(ga & gb) * 1_000_000 // len(ga)))

    got = {
        (r.id_a, r.id_b, r.cont_ppm)
        for r in Q["q_dedup_containment"](spark, str(tmp_path)).collect()
    }
    assert got == want, f"got-want={got - want} want-got={want - got}"


def test_containment_shingle_boundary_corpus(spark, tmp_path):
    """q_dedup_containment_shingle on an engineered micro-corpus with
    pairs AT the 0.8 word-bigram containment boundary, just under it,
    full containment, and short-in-long asymmetry — compared against a
    python brute force over distinct word-bigram sets (the shingle
    sibling of test_containment_boundary_corpus)."""
    import pandas as pd

    from flexcalc_spark.operators.dedup import CONTAIN_DEN, CONTAIN_NUM

    w = [f"w{i:02d}" for i in range(40)]
    x = [f"x{i:02d}" for i in range(10)]
    texts = {
        # 11 words -> 10 bigrams
        1: " ".join(w[0:11]),
        # identical twin (cont = 1.0 both directions)
        2: " ".join(w[0:11]),
        # w0..w8 (8 of 1's bigrams) + disjoint tail -> 1-in-3 cont
        # exactly 8/10 = 0.8 (AT the boundary)
        3: " ".join(w[0:9] + x[0:4]),
        # w0..w7 (7 of 1's bigrams) -> 7/10 = 0.7, must NOT pair with 1
        4: " ".join(w[0:8] + x[4:9]),
        # long doc containing 1 verbatim -> 1 fully inside 5
        5: " ".join(w[0:11] + w[20:35]),
        # short doc inside 5's tail
        6: " ".join(w[25:30]),
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(texts[k]) for k in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    def bigrams(t):
        ws = t.split(" ")
        return {f"{a} {b}" for a, b in zip(ws, ws[1:])}

    want = set()
    for a, ta in texts.items():
        for b, tb in texts.items():
            if a == b:
                continue
            ga, gb = bigrams(ta), bigrams(tb)
            if ga and len(ga & gb) * CONTAIN_DEN >= CONTAIN_NUM * len(ga):
                want.add((a, b, len(ga & gb) * 1_000_000 // len(ga)))

    got = {
        (r.id_a, r.id_b, r.cont_ppm)
        for r in Q["q_dedup_containment_shingle"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (1, 3, 800000) in want  # the engineered exact-boundary pair
    assert got == want, f"got-want={got - want} want-got={want - got}"


def test_containment_shingle_zipf_recall(spark, tmp_path):
    """Full-recall check on a Zipf(1) corpus slice (the probe corpus of
    scripts/scale_probe_zipf.py, n=400 with planted near-dup twins):
    the prefix-filtered word-shingle key must emit EXACTLY the python
    brute-force containment pairs — recall floor 1.0 by construction,
    verified here on the corpus shape the scale claim is made for."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
    from scale_probe_zipf import gen_zipf_corpus

    from flexcalc_spark.operators.dedup import CONTAIN_DEN, CONTAIN_NUM

    gen_zipf_corpus(spark, 400, str(tmp_path))
    rows = spark.read.parquet(str(tmp_path / "documents.parquet")).collect()

    def bigrams(t):
        ws = t.split(" ")
        return {f"{a} {b}" for a, b in zip(ws, ws[1:])}

    sets = {r.doc_id: bigrams(r.text) for r in rows}
    want = set()
    for a, ga in sets.items():
        if not ga:
            continue
        for b, gb in sets.items():
            if a == b:
                continue
            isz = len(ga & gb)
            if isz * CONTAIN_DEN >= CONTAIN_NUM * len(ga):
                want.add((a, b, isz * 1_000_000 // len(ga)))

    got = {
        (r.id_a, r.id_b, r.cont_ppm)
        for r in Q["q_dedup_containment_shingle"](
            spark, str(tmp_path)
        ).collect()
    }
    assert want, "Zipf corpus produced no qualifying pairs — planted twins missing"
    assert got == want, (
        f"missed={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


def test_containment_2stage_recall_floor(spark):
    """The two-stage composition (word-shingle candidates at tau 0.2 ->
    exact char-gram re-score at 0.8) vs the exact oracle-graded
    char-gram key. Precision is 1.0 BY CONSTRUCTION (stage 2 applies
    q_dedup_containment's exact predicate, so output must be a subset);
    recall is EMPIRICAL (the measured word/char coupling floor is 0.333
    at sf0.1 vs the 0.2 candidate tau — SCALE.md round-9) and this
    floor assertion is the key's certification in place of a hash
    oracle (VERDICT r9 what's-missing #3)."""
    exact = {
        (r.id_a, r.id_b, r.cont_ppm)
        for r in Q["q_dedup_containment"](spark, SF_DIR).collect()
    }
    got = {
        (r.id_a, r.id_b, r.cont_ppm)
        for r in Q["q_dedup_containment_2stage"](spark, SF_DIR).collect()
    }
    assert exact, "exact containment set unexpectedly empty"
    assert got <= exact, f"precision breach: {sorted(got - exact)[:5]}"
    recall = len(got) / len(exact)
    assert recall >= 0.95, f"2stage recall {recall:.3f} < 0.95"


def test_containment_2stage_single_word_docs(spark, tmp_path):
    """Docs with no space have no word-bigram; the candidate stage falls
    back to the bare word so identical space-free docs still pair
    (r10 review finding). A purely SUB-word containment (space-free doc
    inside a longer token) is the documented structural miss — the
    char-gram sibling covers it."""
    import pandas as pd

    rows = [
        (1, "abcdefghijklmnop", "en", "s", 16),          # space-free
        (2, "abcdefghijklmnop", "en", "s", 16),          # exact dup of 1
        (3, "xx abcdefghijklmnop yy", "en", "s", 22),    # 1 as a token
        (4, "zzabcdefghijklmnopzz", "en", "s", 20),      # 1 sub-word only
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.id_a, r.id_b)
        for r in Q["q_dedup_containment_2stage"](
            spark, str(tmp_path)
        ).collect()
    }
    # exact space-free duplicates pair via the unigram fallback
    assert (1, 2) in got and (2, 1) in got
    # doc 1 appears as a full token of doc 3: the fallback word matches
    # nothing on 3's bigram side BUT 3's bigrams ('xx abcdefghijklmnop',
    # 'abcdefghijklmnop yy') don't contain the bare word either — this
    # is cross-unit, and (1,3) qualifies only if the word-level
    # containment reaches 0.2; assert the documented semantics instead
    # of guessing: whatever the candidate stage yields must be a SUBSET
    # of true char-containment pairs (precision 1.0)
    from flexcalc_spark.operators.dedup import (
        CONTAIN_DEN, CONTAIN_GRAM, CONTAIN_NUM,
    )

    def grams(t):
        return {t[i : i + CONTAIN_GRAM]
                for i in range(len(t) - CONTAIN_GRAM + 1)}

    sets = {r[0]: grams(r[1]) for r in rows}
    true_pairs = {
        (a, b)
        for a in sets for b in sets
        if a != b and sets[a]
        and len(sets[a] & sets[b]) * CONTAIN_DEN >= CONTAIN_NUM * len(sets[a])
    }
    assert got <= true_pairs
    # the purely sub-word pair (1, 4) is char-true but word-invisible —
    # the documented structural miss of the word-unit candidate stage
    assert (1, 4) in true_pairs and (1, 4) not in got


def test_twostage_stage1_count_form_equivalence(spark):
    """The r15 count-form stage 1 (set_sim_pairs' inverted-index COUNT
    form at the candidate tau) must emit exactly the brute-force word-level
    containment survivor set at the candidate tau — same semantics the
    old prefix+array_intersect formulation computed. Run through the
    REAL pipeline over a fixture slice (doc_id < 120 at sf0.001)."""
    from pyspark.sql import functions as F

    from flexcalc_spark.operators.dedup import (
        TWOSTAGE_CAND_DEN, TWOSTAGE_CAND_NUM, _twostage_items, set_sim_pairs,
    )
    from flexcalc_spark.tables import table

    d = table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 120)
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}

    def items(t):
        ws = t.split(" ")
        if len(ws) >= 2:
            return {f"{a} {b}" for a, b in zip(ws, ws[1:])}
        return set(ws)           # the single-word fallback of _twostage_items

    sets = {k: items(t) for k, t in texts.items()}
    want = {
        (a, b)
        for a in sets
        for b in sets
        if a != b
        and len(sets[a] & sets[b]) * TWOSTAGE_CAND_DEN
        >= TWOSTAGE_CAND_NUM * len(sets[a])
    }
    stage1 = set_sim_pairs(
        _twostage_items(d), "containment", TWOSTAGE_CAND_NUM, TWOSTAGE_CAND_DEN
    )
    got = {(r.id_a, r.id_b) for r in stage1.collect()}
    assert want, "slice produced no qualifying pairs — widen the slice"
    assert got == want, f"got-want={got - want} want-got={want - got}"
