"""Compute (and optionally apply) the next GRADE_ORDER rotation.

The driver grades exactly the FIRST 50 keys of queries() order each
round, so each round fronts the keys with the weakest driver evidence
(never graded, then stalest tier first, prior relative order preserved
inside each tier — the policy every round since r10 has applied by
hand). VERDICT r11/r12 both flagged the hand-applied step as a
logistics hazard ("rotation written but not applied"); this script
makes it one command at round start:

    python scripts/rotate_grade_order.py            # dry run: prints plan
    python scripts/rotate_grade_order.py --apply    # rewrites registry.py

Invariants enforced (and unit-tested in tests/test_sources.py? no —
tests/test_rotation.py): the rotated list is a permutation of the
current one; never-graded keys lead; evidence rounds are non-decreasing
across the rest; relative order within each evidence tier is preserved.
Validated against history: given CORRECTNESS through r11, the output
reproduces the hand-built round-12 front exactly.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(REPO, "flexcalc_spark", "registry.py")
WINDOW = 50
CHANGED_MANIFEST = "CHANGED_KEYS.json"


def _grade_order_node(src: str) -> ast.stmt:
    """The single MODULE-LEVEL statement binding GRADE_ORDER. Scans
    only module body statements (a function-local or comprehension
    variable of the same name must not trip the refusal) but counts
    every binding form — chained (A = GRADE_ORDER = ...) and unpacking
    ((GRADE_ORDER, X) = ...) rebinds would win at import time over a
    rewritten first literal with every guard passing (r13 review,
    passes 6-7)."""
    hits = []
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        if any(isinstance(sub, ast.Name) and sub.id == "GRADE_ORDER"
               for t in targets for sub in ast.walk(t)):
            hits.append(node)
    if len(hits) > 1:  # runtime last-wins would silently override a
        raise SystemExit(  # first-node rewrite
            f"{len(hits)} GRADE_ORDER assignments found — refusing to "
            "pick one; repair registry.py first")
    if not hits:
        raise SystemExit("GRADE_ORDER literal not found in registry.py")
    return hits[0]


def read_grade_order(src: str) -> list[str]:
    return ast.literal_eval(_grade_order_node(src).value)


def literal_span(src: str) -> tuple[int, int]:
    """Character span of the whole GRADE_ORDER assignment, located via
    its AST node — never by text search. r13 review (pass 5): the name
    appearing verbatim in a COMMENT or STRING above the real assignment
    made `src.index(...)` anchor there, and the splice then silently
    deleted the code in between with every guard passing; the AST
    cannot be fooled by comments or strings."""
    node = _grade_order_node(src)
    # split on "\n" only — the tokenizer's line numbering does, while
    # str.splitlines would also split on  /\f inside comments or
    # docstrings and drift the offsets (r13 review, pass 6)
    lines = src.split("\n")
    start = (sum(len(ln) + 1 for ln in lines[:node.lineno - 1])
             + node.col_offset)
    end = (sum(len(ln) + 1 for ln in lines[:node.end_lineno - 1])
           + node.end_col_offset)
    # validate BOTH span ends (ast col offsets are utf-8 BYTE offsets;
    # non-ASCII on the literal's lines would drift the char math —
    # refusal, not assert: uniform and -O-proof)
    if src[start:start + 11] != "GRADE_ORDER" or src[end - 1] != "]":
        raise SystemExit("literal span anchor drifted — registry.py "
                         "NOT rewritten")
    return start, end


def latest_evidence(correctness_dir: str = REPO) -> dict[str, int]:
    """Per-key latest driver-graded round (missing key = never graded).

    A key whose LATEST grade is a real failure gets evidence round 0 —
    the policy is "front never-graded + failed + stalest", and counting
    a failed grade as fresh evidence would rotate the broken key to the
    TAIL for ~5 rounds (r13 review finding). `err: "no_oracle"` is the
    driver's label for declared rows-only keys, not a failure.

    CHANGE-AWARENESS (VERDICT r13 #2): a key whose plan or oracle was
    rewritten AFTER its latest driver grade has effectively zero
    evidence — the grade certified code that no longer exists. The
    CHANGED_KEYS.json manifest (repo root, maintained via
    `--mark-changed key...` at edit time) maps key -> round-changed;
    any key whose latest grade round is OLDER than its changed round
    is reset to evidence 0. Once the driver re-grades it in a round
    >= the changed round, the fresh evidence wins again (the driver
    grades the end-of-round tree, so a same-round grade covers the
    change)."""
    latest = _raw_latest(correctness_dir)
    manifest = os.path.join(correctness_dir, CHANGED_MANIFEST)
    if os.path.exists(manifest):
        for k, changed_round in json.load(open(manifest)).items():
            if latest.get(k, 0) < int(changed_round):
                latest[k] = 0
    return latest


def _raw_latest(correctness_dir: str = REPO) -> dict[str, int]:
    """latest_evidence WITHOUT the changed-keys reset (used by the
    manifest pruning, which must see the raw grade rounds)."""
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(correctness_dir,
                                           "CORRECTNESS_r*.json"))):
        r = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for k, v in json.load(open(f)).items():
            failed = (
                v.get("err") not in (None, "no_oracle")
                or v.get("hash_match") is False
                or v.get("rows_match") is False
                or v.get("schema_match") is False
            )
            latest[k] = 0 if failed else r
    return latest


def prune_inert_changed(correctness_dir: str = REPO) -> list[str]:
    """Drop manifest entries whose key has been re-graded at or after
    its changed round (the marker is inert from then on — the driver
    grades the end-of-round tree). Keeps the manifest from accreting
    forever; called from --apply."""
    manifest = os.path.join(correctness_dir, CHANGED_MANIFEST)
    if not os.path.exists(manifest):
        return []
    entries = {k: int(v) for k, v in json.load(open(manifest)).items()}
    raw = _raw_latest(correctness_dir)
    keep = {k: r for k, r in entries.items() if raw.get(k, 0) < r}
    pruned = sorted(set(entries) - set(keep))
    if pruned:
        with open(manifest, "w") as fh:
            json.dump(dict(sorted(keep.items())), fh, indent=1)
            fh.write("\n")
    # no printing here — see mark_changed
    return pruned


def rotate(order: list[str], latest: dict[str, int]) -> list[str]:
    """Stalest-first permutation: evidence-round-0 keys lead (never
    graded, OR latest grade was a real failure — see latest_evidence),
    then ascending evidence rounds; prior relative order is preserved
    inside each tier (Python's sort is stable)."""
    return sorted(order, key=lambda k: latest.get(k, 0))


def format_literal(keys: list[str]) -> str:
    lines, cur = [], "    "
    for k in keys:
        item = f'"{k}", '
        if len(cur) + len(item) > 78:
            lines.append(cur.rstrip())
            cur = "    "
        cur += item
    lines.append(cur.rstrip().rstrip(","))
    return "GRADE_ORDER: list[str] = [\n" + "\n".join(lines) + "\n]"


def mark_changed(keys: list[str], order: list[str],
                 correctness_dir: str = REPO) -> dict[str, int]:
    """Record keys whose plan/oracle was rewritten this round in the
    CHANGED_KEYS.json manifest (VERDICT r13 #2). The changed round is
    the CURRENT working round = latest CORRECTNESS round + 1 (the
    driver grades the end-of-round tree, so this round's grade counts
    as post-change evidence). Unknown keys are a refusal, not a silent
    no-op — a typo here would silently lose the change marker."""
    unknown = sorted(set(keys) - set(order))
    if unknown:
        raise SystemExit(f"--mark-changed: unknown keys {unknown} — "
                         "not in GRADE_ORDER; nothing written")
    rounds = [int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
              for f in glob.glob(os.path.join(correctness_dir,
                                              "CORRECTNESS_r*.json"))]
    current_round = max(rounds, default=0) + 1
    manifest = os.path.join(correctness_dir, CHANGED_MANIFEST)
    entries: dict[str, int] = {}
    if os.path.exists(manifest):
        entries = {k: int(v) for k, v in json.load(open(manifest)).items()}
    for k in keys:
        entries[k] = max(entries.get(k, 0), current_round)
    with open(manifest, "w") as fh:
        json.dump(dict(sorted(entries.items())), fh, indent=1)
        fh.write("\n")
    # no printing here: callers report AFTER all mutation is done (the
    # r14 SIGPIPE rule — a print between two writes turns a closed
    # pipe into silent partial state)
    return entries


def main() -> int:
    apply = "--apply" in sys.argv
    notes: list[str] = []
    if "--mark-changed" in sys.argv:
        idx = sys.argv.index("--mark-changed")
        keys = [a for a in sys.argv[idx + 1:] if not a.startswith("--")]
        if not keys:
            raise SystemExit("--mark-changed requires at least one key")
        src0 = open(REGISTRY).read()
        mark_changed(keys, read_grade_order(src0))
        notes.append(f"marked changed: {', '.join(keys)}")
    if apply:
        pruned = prune_inert_changed()
        if pruned:
            notes.append(
                f"pruned inert changed-key markers: {', '.join(pruned)}"
            )
    src = open(REGISTRY).read()
    order = read_grade_order(src)
    latest = latest_evidence()
    new = rotate(order, latest)
    assert sorted(new) == sorted(order), "rotation must be a permutation"

    # SIGPIPE hardening (r14, found live twice): `--apply | head` used
    # to die of BrokenPipeError during printing with the manifest
    # written and the registry NOT rewritten — and the first fix still
    # had unguarded prints around the guarded block. The structural
    # rule now: ALL state mutation happens before ANY printing (a
    # closed pipe can no longer cause partial state), and __main__
    # converts BrokenPipeError into a clean exit 0 (the work, if any,
    # is already durable by then).
    tiers: dict[int, int] = {}
    for k in new:
        tiers[latest.get(k, 0)] = tiers.get(latest.get(k, 0), 0) + 1

    if apply and new != order:
        _rewrite_registry(src, new, latest, tiers)

    for note in notes:
        print(note)
    print("evidence tiers (round -> keys):",
          {f"r{r}" if r else "never/failed/changed": n
           for r, n in sorted(tiers.items())})
    print(f"next graded window ({WINDOW}):")
    for k in new[:WINDOW]:
        r = latest.get(k, 0)
        print(f"  {k}  [{'never/failed/changed' if r == 0 else f'r{r}'}]")
    if new == order:
        print("order already rotated — nothing to do")
    elif not apply:
        print("dry run (pass --apply to rewrite registry.py)")
    else:
        print(f"rewrote {REGISTRY}; re-time the graded window "
              "(scripts/probe.py --window --sf <sf0.01>) before committing")
    return 0


def _rewrite_registry(src: str, new: list[str], latest: dict[str, int],
                      tiers: dict[int, int]) -> None:
    lit_start, lit_end = literal_span(src)
    # regenerate the descriptive comment block too (the hand-written
    # "Round-N front" paragraph would silently go stale otherwise).
    # Two strip rules, both safe by construction (r13 review: an
    # unanchored strip could delete real CODE between a doc comment
    # and the literal):
    #  - this tool's own signature block ("# Rotation applied by
    #    scripts/...") is stripped wherever it appears, but only its
    #    own consecutive comment lines — it cannot be a human comment;
    #  - the legacy hand-written "# Round-" block is stripped only
    #    when it IMMEDIATELY precedes the literal (\Z-anchored).
    head = src[:lit_start]
    head = re.sub(
        r"(?m)^# Rotation applied by scripts/rotate_grade_order\.py.*\n"
        r"(?:#.*\n)*?# Front of the next graded window:.*\n",
        "", head)
    m = re.search(r"(?m)^# Round-.*\n(?:#.*\n)*\Z", head)
    if m:
        head = head[:m.start()]
    # the strips run over raw text, so a line-start match INSIDE a
    # string literal would delete string content while both write
    # guards below still pass (r13 review) — prove they removed only
    # comments: comments are invisible to the AST, string content is
    # not, so the parsed head must be unchanged
    try:  # defensive: with AST anchoring the pristine prefix always
        base = ast.dump(ast.parse(src[:lit_start]))  # parses today, but
    except SyntaxError:  # a future anchor bug must name ITSELF, not
        raise SystemExit(  # get blamed on the strip (r13 review)
            "text before the GRADE_ORDER literal does not parse — "
            "the literal anchor is wrong; registry.py NOT rewritten")
    try:
        unchanged = ast.dump(ast.parse(head)) == base
    except SyntaxError:  # a strip can even delete a string's closing
        unchanged = False  # delimiter — same refusal, not a traceback
    if not unchanged:
        raise SystemExit("comment strip altered code or string content "
                         "— registry.py NOT rewritten")
    max_r = max(latest.values(), default=0)
    tier_note = ", ".join(
        f"{'never-graded/failed/changed' if r == 0 else f'r{r}'}: {n}"
        for r, n in sorted(tiers.items())
    )
    head += (
        f"# Rotation applied by scripts/rotate_grade_order.py from\n"
        f"# CORRECTNESS history through r{max_r} — stalest evidence\n"
        f"# first, prior relative order preserved inside each tier.\n"
        f"# Tiers at rotation time ({tier_note}).\n"
        f"# Front of the next graded window: {', '.join(new[:3])}, ...\n"
    )
    new_src = head + format_literal(new) + src[lit_end:]
    # validate the WRITTEN text before touching the registry (r13
    # review: any splice bug would otherwise corrupt registry.py in
    # place — the tests exercise pristine copies, not this file state)
    ast.parse(new_src)
    if read_grade_order(new_src) != new:
        raise SystemExit("splice produced a different GRADE_ORDER — "
                         "registry.py NOT rewritten")
    open(REGISTRY, "w").write(new_src)


if __name__ == "__main__":
    try:
        _code = main()
    except BrokenPipeError:
        # any state mutation already happened before the first print;
        # a consumer closing the pipe early is not a failure. Point
        # stdout at devnull so the interpreter-exit flush cannot
        # re-raise (exit 120).
        _devnull = os.open(os.devnull, os.O_WRONLY)
        os.dup2(_devnull, sys.stdout.fileno())
        _code = 0
    raise SystemExit(_code)
