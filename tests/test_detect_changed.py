"""The changed-key detector (scripts/detect_changed_keys.py): its
misses are SILENT (an undetected change keeps stale driver evidence
counting — the r13 q_rfm false-evidence hazard), so the traversal
semantics are pinned here. Each test encodes a failure mode found by
the r14 review and fails on the pre-fix traversal."""

from __future__ import annotations

import ast
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from detect_changed_keys import (  # noqa: E402
    _functions_of,
    _module_defs,
    _reachable,
)


def test_reachable_traces_kernels_passed_by_reference():
    """r14 review finding 1: Arrow kernels are passed BY REFERENCE
    (applyInPandas(_kernel, ...), mapInPandas(fn, ...)) — a
    call-position-only walk returns just the root and every kernel
    edit goes undetected (verified live on q_stateful_sessions).
    Fails on the pre-fix code: {'q_plan'} without '_kernel'."""
    src = (
        "def _kernel(pdf):\n    return pdf\n"
        "def _other():\n    return 1\n"
        "def q_plan(spark, sf):\n"
        "    g = spark.groupBy('u')\n"
        "    return g.applyInPandas(_kernel, schema='x long')\n"
    )
    fdefs = _module_defs(ast.parse(src))
    assert _reachable(fdefs, "q_plan") == {"q_plan", "_kernel"}


def test_reachable_traces_calls_transitively():
    src = (
        "def _c():\n    return 1\n"
        "def _b():\n    return _c()\n"
        "def q_plan(spark, sf):\n    return _b()\n"
        "def _unrelated():\n    return _c()\n"
    )
    fdefs = _module_defs(ast.parse(src))
    assert _reachable(fdefs, "q_plan") == {"q_plan", "_b", "_c"}


def test_module_fdefs_ignores_nested_shadowing_defs():
    """r14 review finding 3: a NESTED def sharing a module-level
    helper's name must not shadow it in the name->source map — the
    repo's kernel style reuses names like 'mapper' inside many plans
    (binaryfiles.py has 4). Fails on the ast.walk-based pre-fix code:
    out['helper'] resolves to the unchanged nested def in both
    revisions, so edits to the real helper diff as equal."""
    src_v1 = (
        "def helper():\n    return 'REAL-V1'\n"
        "def q_plan(spark, sf):\n"
        "    def helper():\n        return 'nested'\n"
        "    return helper()\n"
    )
    src_v2 = src_v1.replace("REAL-V1", "REAL-V2")
    f1, f2 = _functions_of(src_v1), _functions_of(src_v2)
    assert "REAL-V1" in f1["helper"]
    assert f1["helper"] != f2["helper"]       # the edit IS visible
    assert f1["q_plan"] == f2["q_plan"]       # plan span unchanged


def test_functions_of_includes_decorators():
    """The oracle SQL lives in the register(...) decorator — the span
    must start at the decorator, not the def."""
    src = (
        "@register('q_x', oracle='SELECT 1 AS one')\n"
        "def q_x(spark, sf):\n    return None\n"
    )
    fns = _functions_of(src)
    assert "oracle='SELECT 1 AS one'" in fns["q_x"]


def test_detect_flags_kernel_edit_end_to_end(tmp_path, monkeypatch):
    """End-to-end on a synthetic module pair: editing ONLY the
    referenced kernel must flag the key (the silent-miss class)."""
    import subprocess

    import detect_changed_keys as dck

    old = (
        "def _kernel(pdf):\n    return pdf * 1\n"
        "def q_plan(spark, sf):\n"
        "    return spark.applyInPandas(_kernel)\n"
    )
    new = old.replace("pdf * 1", "pdf * 2")
    old_fns, new_fns = _functions_of(old), _functions_of(new)
    fdefs = _module_defs(ast.parse(new))
    hits = sorted(
        n for n in _reachable(fdefs, "q_plan")
        if old_fns.get(n) != new_fns.get(n)
    )
    assert hits == ["_kernel"]


def test_changed_sql_constant_marks_its_key():
    """A key's SQL text is usually a module-level constant (_Q10_BODY,
    _SCALAR_SQL) that its decorator or register_sql statement names,
    possibly through another constant (_REVENUE). Editing only the text
    must flag the key; a functions-only diff saw no change at all."""
    old = (
        "_REVENUE = 'SUM(l_extendedprice)'\n"
        "_BODY = f\"SELECT {_REVENUE} FROM lineitem WHERE l_returnflag = 'R'\"\n"
        "_OTHER = 'SELECT 1'\n"
        "register_sql('q_sql', _BODY, family='sql', scale_notes='', doc='')\n"
        "@register('q_df', oracle=_BODY)\n"
        "def q_df(spark, sf):\n    return None\n"
    )
    defs = _module_defs(ast.parse(old))
    assert _reachable(defs, "q_sql") == {"q_sql", "_BODY", "_REVENUE"}
    for new in (old.replace("'R'", "'A'"), old.replace("SUM(", "MAX(")):
        old_fns, new_fns = _functions_of(old), _functions_of(new)
        for root in ("q_sql", "q_df"):
            hits = [n for n in _reachable(_module_defs(ast.parse(new)), root)
                    if old_fns.get(n) != new_fns.get(n)]
            assert hits, (root, new)
    edited = old.replace("SELECT 1", "SELECT 2")
    old_fns, new_fns = _functions_of(old), _functions_of(edited)
    assert not [n for n in _reachable(defs, "q_sql")
                if old_fns.get(n) != new_fns.get(n)]
