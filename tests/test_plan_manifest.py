"""The plan manifest (PLANS.json): every key's formatted plan, reduced to
a hash of its canonical text and node-type counts, must match the
manifest checked in beside the code. A change that alters any plan fails
here by key name; regenerate with ``python scripts/probe.py --plans --sf
<sf0.001 fixtures>`` when the change is meant to.
"""

from __future__ import annotations

import json
import os

import pytest

from flexcalc_spark.plans import canonical_plan, manifest_session, plan_digest, plan_manifest
from tests.conftest import SF_DIR

MANIFEST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.json")

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- HashAggregate (4)
   +- Exchange (3)
      +- Expand (2)
         +- Scan parquet spark_catalog.default.orders_b8_{pid} (1)


(1) Scan parquet spark_catalog.default.orders_b8_{pid}
Output [2]: [a#{i}L, b#{j}]
Location: InMemoryFileIndex [file:{sf}/orders.parquet]

(2) Expand
Input [2]: [a#{i}L, b#{j}]
Arguments: [{expand}], [a#{k}L, b#{l}, gid#{m}]

(3) Exchange
Arguments: hashpartitioning(_common_expr_{c}#{k}, 8), ENSURE_REQUIREMENTS, [plan_id={i}]

(4) HashAggregate
Input: MapPartitionsRDD[{rdd}] at localCheckpoint at {site}:0, ExistingRDD
Results: transform(a#{k}L, lambdafunction(cast(lambda x_{lam}#{m}L as string), lambda x_{lam}#{m}L, false))

(5) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""
EXPAND = ["[a#{i}L, null, 0]", "[null, b#{j}, 1]"]


def _plan(sf="/data/sf0.001", expand=EXPAND, **ids):
    fill = dict(pid=24719, i=4, j=5, k=96, l=97, m=98, c=0, rdd=936, lam=1,
                site="NativeMethodAccessorImpl.java", sf=sf)
    fill.update(ids)
    return PLAN.format(expand=", ".join(expand).format(**fill), **fill)


def test_canonical_plan_drops_ids_rdds_lambdas_tables_and_fixture_path():
    base = canonical_plan(_plan(), "/data/sf0.001")
    moved = canonical_plan(
        _plan(sf="/elsewhere/fixtures/sf0.001", pid=5, i=400, j=501, k=9, l=10, m=11,
              c=3, rdd=12, lam=27, site="<unknown>"),
        "/elsewhere/fixtures/sf0.001")
    assert moved == base
    assert "#4" not in base and "24719" not in base and "/data" not in base
    assert "NativeMethodAccessorImpl" not in base and "_common_expr_0" not in base
    assert "x_1" not in base


def test_permuted_expand_hashes_equal_and_added_exchange_does_not():
    sf = "/data/sf0.001"
    digest = plan_digest(_plan(), sf)
    assert plan_digest(_plan(expand=EXPAND[::-1], m=7), sf) == digest
    extra = _plan().replace("   +- Exchange (3)\n", "   +- Exchange (3)\n      +- Exchange (6)\n")
    extra += "\n(6) Exchange\nArguments: RoundRobinPartitioning(8), REPARTITION_BY_NUM\n"
    changed = plan_digest(extra, sf)
    assert changed["hash"] != digest["hash"]
    assert changed["nodes"]["Exchange"] == digest["nodes"]["Exchange"] + 1


def test_plans_match_manifest(spark):
    with open(MANIFEST) as f:
        want = json.load(f)
    session = manifest_session(spark, SF_DIR)
    recorded = {k: want[k] for k in session}
    if recorded != session:
        pytest.skip(f"PLANS.json records {recorded}; this session is {session}")
    got = plan_manifest(spark, SF_DIR)["plans"]
    changed = sorted(k for k in got.keys() | want["plans"].keys()
                     if got.get(k) != want["plans"].get(k))
    detail = {k: {"manifest": want["plans"].get(k), "now": got.get(k)} for k in changed[:5]}
    assert not changed, f"plans differ from PLANS.json for {changed}: {detail}"


def test_manifest_keys_cross_into_python_at_most_once():
    """One Python crossing per key: every Python-eval node (MapInPandas,
    ArrowEvalPython, ArrowAggregatePython, BatchEvalPythonUDTF,
    FlatMapGroupsInPandas, ...) ships each of its rows JVM -> Python ->
    JVM, so a key chains its Python steps inside one node
    (binaryfiles.map_batches) instead of stacking nodes."""
    with open(MANIFEST) as f:
        plans = json.load(f)["plans"]
    crossings = {
        k: n for k, p in plans.items()
        if (n := sum(c for t, c in p["nodes"].items()
                     if "Python" in t or "InPandas" in t)) > 1
    }
    assert not crossings, f"keys with more than one Python-eval node: {crossings}"
