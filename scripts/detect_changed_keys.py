"""Detect registered keys whose plan source changed since a git rev.

Usage:
    python scripts/detect_changed_keys.py <base-rev> [--mark]

For every key in the registry, compares the key's root (its decorated
plan function, decorators included — the oracle SQL lives there — or
its module-level ``register_sql("key", ...)`` statement) AND every
same-module function and module-level constant reachable from it (AST
reference graph: the q_rfm_approx-via-_rfm case, and SQL texts such as
_Q10_BODY) between <base-rev> and the WORKING TREE. A ``register_sql``
key also reaches registry.py's ``register_sql``, which builds its Spark
side.
Keys that differ are the candidates for `rotate_grade_order.py
--mark-changed` (VERDICT r13 #2: a key whose plan or oracle changed
after its latest driver grade has effectively zero evidence).

`--mark` marks every detected key via mark_changed (stamped with the
current working round), then prints the rotation reminder. The base
rev MUST be the immediately-preceding round's end-of-round snapshot:
with that base, any detected change happened THIS round, so marking
at the current round is exact. An OLDER base over-marks — it flags
keys changed AND validly re-graded in between, fronting them
needlessly.

Limitations (stated, not silent): cross-MODULE helpers (e.g. a shared
function in tables.py) are not traced — a change there should be
marked by hand for the keys it feeds. When in doubt, mark by hand — an
extra marker costs one re-grade; a missed one costs a round of false
evidence (the r13 q_rfm case).
"""

from __future__ import annotations

import ast
import inspect
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _sql_key(node: ast.stmt) -> str | None:
    """The key of a ``register_sql("key", ...)`` statement, else None."""
    if not (isinstance(node, ast.Expr) and isinstance(node.value, ast.Call)):
        return None
    call = node.value
    name = getattr(call.func, "id", getattr(call.func, "attr", None))
    if name != "register_sql" or not call.args:
        return None
    first = call.args[0]
    if isinstance(first, ast.Constant) and isinstance(first.value, str):
        return first.value
    return None


def _module_defs(tree: ast.Module) -> dict[str, list[ast.stmt]]:
    """name -> statements defining it, MODULE-LEVEL only (tree.body, not
    ast.walk): functions, assigned names (SQL texts, grids, literal
    banks) and ``register_sql`` statements, named by their key. A
    nested def sharing a top-level helper's name must not shadow it —
    nested defs are already covered by their enclosing function's span
    (r14 review; binaryfiles.py alone has 4 nested 'mapper' defs)."""
    out: dict[str, list[ast.stmt]] = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            names = [
                n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
        else:
            names = [k] if (k := _sql_key(node)) else []
        for name in names:
            out.setdefault(name, []).append(node)
    return out


def _functions_of(src: str) -> dict[str, str]:
    """name -> source span (decorators included) of its module-level
    definitions, joined in file order."""
    out: dict[str, str] = {}
    lines = src.split("\n")
    for name, nodes in _module_defs(ast.parse(src)).items():
        spans = []
        for node in nodes:
            start = min(
                [node.lineno]
                + [d.lineno for d in getattr(node, "decorator_list", [])]
            )
            spans.append("\n".join(lines[start - 1:node.end_lineno]))
        out[name] = "\n".join(spans)
    return out


def _reachable(defs: dict[str, list[ast.stmt]], root: str) -> set[str]:
    """root plus every same-module module-level definition transitively
    REFERENCED from it. Collects every ast.Name matching a module
    definition — not just call-position names — because Arrow kernels
    are passed BY REFERENCE (applyInPandas(_sessionize_pdf, ...),
    mapInPandas(fn, ...)) and a call-only walk misses them entirely
    (r14 review: _reachable('q_stateful_sessions') came back as just
    the root while all its logic lives in the referenced kernel)."""
    seen: set[str] = set()

    def walk(name: str) -> None:
        if name in seen or name not in defs:
            return
        seen.add(name)
        for stmt in defs[name]:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name) and node.id in defs:
                    walk(node.id)
                elif (isinstance(node, ast.Attribute)
                      and node.attr in defs):
                    walk(node.attr)

    walk(root)
    return seen


def _sql_key_files() -> dict[str, str]:
    """key -> repo-relative file of its ``register_sql`` statement (the
    registered function itself is a closure in registry.py)."""
    out: dict[str, str] = {}
    pkg = os.path.join(REPO, "flexcalc_spark")
    for root, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            full = os.path.join(root, fname)
            with open(full) as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if key := _sql_key(node):
                    out[key] = os.path.relpath(full, REPO)
    return out


def _git_show(rev: str, rel: str) -> str | None:
    r = subprocess.run(
        ["git", "show", f"{rev}:{rel}"],
        capture_output=True, text=True, cwd=REPO,
    )
    return r.stdout if r.returncode == 0 else None


def detect(base_rev: str) -> list[tuple[str, int, str]]:
    """(key, latest_evidence_round, via) for keys whose reachable plan
    source differs between base_rev and the working tree."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from rotate_grade_order import latest_evidence

    import flexcalc_spark.registry as reg

    reg.load_all()
    latest = latest_evidence()

    # group keys by module file so each file is read/parsed once
    by_file: dict[str, list[tuple[str, str]]] = {}
    sql_files = _sql_key_files()
    registry_rel = os.path.relpath(reg.__file__, REPO)
    for k, fn in reg.QUERIES.items():
        if k in sql_files:
            by_file.setdefault(sql_files[k], []).append((k, k))
            by_file.setdefault(registry_rel, []).append((k, "register_sql"))
            continue
        f = fn
        while hasattr(f, "__wrapped__"):
            f = f.__wrapped__
        rel = os.path.relpath(inspect.getmodule(f).__file__, REPO)
        by_file.setdefault(rel, []).append(
            (k, f.__qualname__.split(".")[0])
        )

    hits_of: dict[str, list[str]] = {}
    for rel, keys in sorted(by_file.items()):
        new_src = open(os.path.join(REPO, rel)).read()
        old_src = _git_show(base_rev, rel)
        new_fns = _functions_of(new_src)
        old_fns = _functions_of(old_src) if old_src is not None else {}
        defs = _module_defs(ast.parse(new_src))  # parse ONCE per file
        for k, root in keys:
            hits = ["new file"] if old_src is None else sorted(
                n
                for n in _reachable(defs, root)
                if old_fns.get(n) != new_fns.get(n)
            )
            if hits:
                hits_of.setdefault(k, []).extend(hits)
    return [(k, latest.get(k, 0), ", ".join(h)) for k, h in hits_of.items()]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 1:
        raise SystemExit(
            "usage: detect_changed_keys.py <base-rev> [--mark]"
        )
    base = args[0]
    changed = detect(base)
    if not changed:
        print(f"no registered key's plan source changed vs {base}")
        return 0
    print(f"keys whose plan source changed vs {base}:")
    stale = []
    for k, ev, via in sorted(changed):
        print(f"  {k}  [evidence r{ev}]  via: {via}")
        stale.append(k)
    if "--mark" in sys.argv:
        from rotate_grade_order import mark_changed

        import flexcalc_spark.registry as reg

        mark_changed(stale, list(reg.QUERIES), REPO)
        print(f"marked changed: {', '.join(stale)}")
        print("now run: python scripts/rotate_grade_order.py --apply")
    else:
        print(
            "mark with: python scripts/rotate_grade_order.py "
            "--mark-changed " + " ".join(stale)
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
