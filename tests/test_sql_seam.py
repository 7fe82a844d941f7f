"""The SQL-key seam: registry.register_sql registers every key whose
Spark side runs its own oracle text, over temp views of exactly the
fixture tables the text names."""

from __future__ import annotations

import ast
import glob
import os

from flexcalc_spark import registry, tables
from flexcalc_spark.operators import sqlapi

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_sql_views_exactly_the_tables_named(monkeypatch):
    """Whole words only: c_orders, p_partkey, r_regionkey and lineitem_us
    name no table. tables.table is looked up per call, as perfbench's
    scan tracing, installed after registry is imported, needs."""
    views = []

    class Scan:
        def __init__(self, name):
            self.name = name

        def createOrReplaceTempView(self, view):
            views.append((self.name, view))

    class Spark:
        def sql(self, text):
            return text

    monkeypatch.setattr(tables, "table", lambda spark, sf_dir, name: Scan(name))
    text = "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
    assert registry.run_sql(Spark(), "", text) == text
    assert views == [("orders", "orders"), ("lineitem", "lineitem")]
    views.clear()
    registry.run_sql(Spark(), "", "SELECT c_orders, p_partkey, r_regionkey FROM lineitem_us")
    assert views == []


def _spark_texts(monkeypatch) -> dict[str, str]:
    """key -> the text each SQL key hands to spark.sql, captured without
    a session: run_sql and the epoch-µs helper return the text instead."""
    monkeypatch.setattr(registry, "run_sql", lambda spark, sf_dir, text: text)
    monkeypatch.setattr(sqlapi, "_epoch_us_sql", lambda spark, sf_dir, text: text)
    out = {}
    for key, fn in registry.QUERIES.items():
        inner = fn.__wrapped__
        if inner.__module__ in (registry.__name__, sqlapi.__name__):
            out[key] = inner(None, "")
    return out


def test_spark_texts_carry_no_duckdb_dialect(monkeypatch):
    texts = _spark_texts(monkeypatch)
    sql_closures = [k for k, fn in registry.QUERIES.items()
                    if fn.__wrapped__.__module__ == registry.__name__]
    assert len(sql_closures) == 24
    assert len(texts) == 27  # plus q_sql_tpch4, 12 and 21
    bad = [k for k, t in texts.items() if "MATERIALIZED" in t or "{" in t]
    assert not bad, bad
    for key in sql_closures:
        fn = registry.QUERIES[key].__wrapped__
        assert fn.__name__ == fn.__qualname__ == key
        assert registry.META[key]["doc"] == fn.__doc__.strip()


def _enclosing_views(tree: ast.Module) -> list[tuple[str, int]]:
    """(module-level function, line) of every createOrReplaceTempView call."""
    out = []
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createOrReplaceTempView"):
                out.append((getattr(top, "name", "<module>"), node.lineno))
    return out


def test_temp_views_are_registered_by_the_seam_only():
    """Temp views come from registry.run_sql (register_sql's Spark
    side), sqlapi._epoch_us_sql and the UDTF key's own view only."""
    allowed = {
        "flexcalc_spark/registry.py:run_sql",
        "flexcalc_spark/operators/sqlapi.py:_epoch_us_sql",
        "flexcalc_spark/operators/udfs.py:q_udtf_expand",
    }
    bad = []
    for path in sorted(glob.glob(os.path.join(ROOT, "flexcalc_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        rel = os.path.relpath(path, ROOT)
        for fn, line in _enclosing_views(tree):
            if f"{rel}:{fn}" not in allowed:
                bad.append(f"{rel}:{line} in {fn}")
    assert not bad, bad
