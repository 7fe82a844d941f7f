"""The tables.table() scan memo (r14 continuation session).

Guard tests follow the r13 "a regression test must fail on the code
it guards against" rule — VERIFIED by running this file against the
first-cut memo (commit e9dc53f): inode miss, nested in-place,
liveness probe, and the module-registry guard all FAIL there; the
hit/rewrite/missing-path tests pin behavior both versions share (they
pass on both and guard against a removal, not the r14 fixes):

- hit/identity      -> fails if the memo is removed
- rewrite miss      -> fails if the signature drops mtime/size
- inode miss        -> fails if the signature drops st_ino (same-size
                       os.replace with the old mtime copied back)
- nested in-place   -> fails if the directory signature goes back to
                       direct-children-only (in-place rewrite of a
                       nested part file leaves the parent dir entry
                       untouched)
- liveness probe    -> fails if pyspark renames the private attrs
                       _session_live leans on (the memo would silently
                       disable and the construction win evaporate)
- module registry   -> fails if ANY module-level Mapping (dict OR
                       WeakKeyDictionary) holds DataFrames again
- symlink / onerror -> signature must be None (skip memo), never a
                       blind or partial tuple
- FIFO eviction     -> fails if the cap clears the whole store
                       instead of dropping only the oldest entry
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flexcalc_spark import tables


def _write(path: str, vals: list[int]) -> None:
    pq.write_table(pa.table({"v": pa.array(vals, type=pa.int64())}), path)


def test_memo_returns_same_object_for_unchanged_files(spark):
    a = tables.table(spark, "/root/testdata/sf0.001", "nation")
    b = tables.table(spark, "/root/testdata/sf0.001", "nation")
    assert a is b


def test_rewrite_at_same_path_is_a_miss(spark, tmp_path):
    sf = str(tmp_path)
    _write(os.path.join(sf, "events.parquet"), [1, 2, 3])
    first = tables.table(spark, sf, "events")
    assert first.count() == 3
    _write(os.path.join(sf, "events.parquet"), [7, 8, 9, 10])
    second = tables.table(spark, sf, "events")
    assert second is not first
    assert sorted(r.v for r in second.collect()) == [7, 8, 9, 10]


def test_same_size_same_mtime_swap_is_a_miss(spark, tmp_path):
    # os.replace a pre-written same-size file and copy the ORIGINAL
    # mtime back: (mtime_ns, size) alone cannot see this — only the
    # inode can.
    sf = str(tmp_path)
    path = os.path.join(sf, "events.parquet")
    alt = os.path.join(sf, "alt.bin")
    _write(path, [1])
    _write(alt, [2])
    st = os.stat(path)
    if os.path.getsize(alt) != st.st_size:
        pytest.skip("parquet writer produced unequal sizes")
    first = tables.table(spark, sf, "events")
    assert [r.v for r in first.collect()] == [1]
    os.replace(alt, path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns
    second = tables.table(spark, sf, "events")
    assert second is not first
    assert [r.v for r in second.collect()] == [2]


def test_nested_in_place_rewrite_is_a_miss(spark, tmp_path):
    # Partitioned-style layout: the rewritten bytes live one directory
    # down, and an in-place truncate+write keeps the file's inode and
    # the PARENT directory's mtime — only a recursive signature sees
    # the nested file's new mtime/size.
    sf = str(tmp_path)
    layout = os.path.join(sf, "events.parquet", "day=1")
    os.makedirs(layout)
    part = os.path.join(layout, "part-0.parquet")
    _write(part, [1, 2])
    first = tables.table(spark, sf, "events")
    assert first.count() == 2
    ino = os.stat(part).st_ino
    _write(part, [5, 6, 7])  # open(..., 'wb'): same inode, same parent
    assert os.stat(part).st_ino == ino
    second = tables.table(spark, sf, "events")
    assert second is not first
    assert sorted(r.v for r in second.collect()) == [5, 6, 7]


def test_missing_path_skips_memo_and_raises_sparks_error(spark, tmp_path):
    with pytest.raises(Exception) as exc:
        tables.table(spark, str(tmp_path), "events").count()
    assert "PATH_NOT_FOUND" in str(exc.value) or "Path does not exist" in str(
        exc.value
    )


def test_session_liveness_probe_sees_the_live_session(spark):
    # If a pyspark upgrade renames sparkContext._jsc, _session_live
    # returns False for every session and the memo silently disables —
    # this assertion is the canary.
    assert tables._session_live(spark) is True


def test_memo_lives_on_the_session_object_not_in_the_module(spark):
    # The module must hold no global strong reference to plans: the
    # only store is the per-session attribute (a pure cycle the GC can
    # reclaim with the session). Guards against reintroducing ANY
    # module-level registry whose values pin dead sessions' JVM state
    # — including the original WeakKeyDictionary layout (a Mapping but
    # NOT a dict, and holding DataFrames one level down; the first
    # version of this test checked isinstance(dict) on the memo-attr
    # names only and could not see the exact pattern it guarded
    # against — r14 second review pass).
    from collections.abc import Mapping

    from pyspark.sql import DataFrame

    tables.table(spark, "/root/testdata/sf0.001", "nation")
    assert isinstance(getattr(spark, tables._MEMO_ATTR), dict)

    offenders = []
    for name, val in vars(tables).items():
        if not isinstance(val, Mapping) or not len(val):
            continue
        flat = []
        for v in val.values():
            flat.extend(v.values() if isinstance(v, Mapping) else [v])
        if any(isinstance(v, DataFrame) for v in flat):
            offenders.append(name)
    assert offenders == []


def test_symlinked_subdir_disables_the_memo(spark, tmp_path):
    # os.walk never descends into symlinked dirs, so no signature can
    # see rewrites behind one — such layouts must skip the memo
    # entirely (fresh read every call) rather than serve stale plans.
    sf = str(tmp_path)
    real = os.path.join(sf, "real_day")
    os.makedirs(real)
    _write(os.path.join(real, "part-0.parquet"), [1, 2])
    top = os.path.join(sf, "events.parquet")
    os.makedirs(top)
    os.symlink(real, os.path.join(top, "day=1"))
    assert tables._path_sig(top) is None
    first = tables.table(spark, sf, "events")
    second = tables.table(spark, sf, "events")
    assert first is not second  # memo skipped, never stale


def test_unlistable_subdir_yields_none_not_partial(tmp_path, monkeypatch):
    # os.walk swallows listing errors by default; a partial signature
    # would be memoized and NEVER change. The onerror hook must route
    # such errors into the None (= skip memo) contract.
    layout = os.path.join(str(tmp_path), "events.parquet", "day=1")
    os.makedirs(layout)
    _write(os.path.join(layout, "part-0.parquet"), [1])
    real_scandir = os.scandir

    def deny_nested(p="."):
        if os.fspath(p).endswith("day=1"):
            raise OSError(13, "Permission denied", os.fspath(p))
        return real_scandir(p)

    monkeypatch.setattr(tables.os, "scandir", deny_nested)
    assert tables._path_sig(os.path.join(str(tmp_path), "events.parquet")) is None


# --- session_plan_memo (r15: LSH band-bank construction memo) ---------


def test_plan_memo_returns_same_object_for_unchanged_dep(spark, tmp_path):
    sf = str(tmp_path)
    dep = os.path.join(sf, "embeddings.parquet")
    _write(dep, [1, 2, 3])
    calls = []

    def build():
        calls.append(1)
        return tables.table(spark, sf, "embeddings").selectExpr("v * 2 AS w")

    a = tables.session_plan_memo(spark, dep, "t", build)
    b = tables.session_plan_memo(spark, dep, "t", build)
    assert a is b and len(calls) == 1
    # plan-only: every execution computes fresh from the file
    assert sorted(r.w for r in b.collect()) == [2, 4, 6]


def test_plan_memo_dep_rewrite_is_a_miss(spark, tmp_path):
    sf = str(tmp_path)
    dep = os.path.join(sf, "embeddings.parquet")
    _write(dep, [1, 2, 3])
    build_n = []

    def build():
        build_n.append(1)
        return tables.table(spark, sf, "embeddings").selectExpr("v AS w")

    first = tables.session_plan_memo(spark, dep, "t2", build)
    _write(dep, [7, 8, 9, 10])
    second = tables.session_plan_memo(spark, dep, "t2", build)
    assert second is not first and len(build_n) == 2
    assert sorted(r.w for r in second.collect()) == [7, 8, 9, 10]


def test_plan_memo_missing_dep_falls_back_to_builder(spark, tmp_path):
    # unstatable dep path => no memoization, builder result served as-is
    dep = os.path.join(str(tmp_path), "nope.parquet")
    a = tables.session_plan_memo(spark, dep, "t3", lambda: "fresh-a")
    b = tables.session_plan_memo(spark, dep, "t3", lambda: "fresh-b")
    assert (a, b) == ("fresh-a", "fresh-b")


def test_plan_memo_lives_on_session_not_module(spark):
    # same registry rule as the scan memo: no module-level Mapping may
    # hold DataFrames (the r14 WeakKeyDictionary leak class)
    assert isinstance(
        getattr(spark, tables._MEMO_ATTR, {}), dict
    )
    import collections.abc as abc

    for name, val in vars(tables).items():
        if name.startswith("__"):
            continue
        if isinstance(val, abc.Mapping) and val:
            raise AssertionError(f"module-level mapping holds state: {name}")


# --- the one store: FIFO eviction at the cap -------------------------


def test_cap_evicts_only_the_oldest_entry(spark, tmp_path, monkeypatch):
    # Fill a 3-entry store, overflow it by one: only the OLDEST entry
    # goes. A wholesale clear would also drop c, the newest entry
    # before the overflow.
    monkeypatch.setattr(tables, "_MEMO_MAX", 3)
    monkeypatch.setattr(spark, tables._MEMO_ATTR, {}, raising=False)
    dep = os.path.join(str(tmp_path), "embeddings.parquet")
    _write(dep, [1])
    builds = []

    def memo(tag):
        return tables.session_plan_memo(
            spark, dep, tag, lambda: builds.append(tag) or object()
        )

    a, b, c, d = (memo(t) for t in "abcd")
    assert builds == list("abcd")
    assert memo("c") is c and memo("d") is d and memo("b") is b
    assert memo("a") is not a  # the oldest was evicted: rebuilt
    assert builds == list("abcda")


def test_scans_and_plans_share_one_capped_store(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_MEMO_MAX", 4)
    monkeypatch.setattr(spark, tables._MEMO_ATTR, {}, raising=False)
    sf = str(tmp_path)
    for name in ("events", "orders", "nation"):
        _write(os.path.join(sf, f"{name}.parquet"), [1])
    store = getattr(spark, tables._MEMO_ATTR)
    for i in range(3):
        for name in ("events", "orders", "nation"):
            tables.table(spark, sf, name)
            assert len(store) <= 4
            dep = os.path.join(sf, f"{name}.parquet")
            tables.session_plan_memo(spark, dep, f"t{i}", object)
            assert len(store) <= 4
    kinds = {k[0] for k in store}
    assert kinds == {"scan", "plan"}
    assert len(store) == 4
