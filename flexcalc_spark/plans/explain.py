"""Physical-plan inspection (SURVEY.md §4 — "the plan you'd want, not
the first one that passed").

``plan_text(df)`` captures ``df.explain("formatted")`` output so tests
can assert the physical properties that matter at 100 TB:
- column pruning reached the scan (ReadSchema lists only needed columns)
- predicates pushed into parquet (PushedFilters non-empty)
- dimension joins broadcast (BroadcastHashJoin)
- global top-k runs as TakeOrderedAndProject (no global sort)
- aggregations are partial+final (two HashAggregate nodes)

``plan_manifest(spark, sf_dir)`` reduces every registered key's
formatted plan to a hash of its canonical text plus node-type counts —
the PLANS.json manifest a refactor diffs to show its plans are
unchanged.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import re
import tempfile
from collections import Counter

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# What varies between processes or key orders without the plan changing:
# expression and exchange ids, RDD ids with their call site (``at
# localCheckpoint at NativeMethodAccessorImpl.java:0`` in one process,
# ``<unknown>:0`` in another), common-subexpression aliases, the numbered
# names PySpark gives Python lambda variables (``x_1``, ``x_2``, ... per
# process) and the pid suffix of q_join_bucketed's table names.
_VOLATILE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\] at [^,\]]*"), "RDD[]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+\b"), r"\1_"),
    (re.compile(r"_b8_\d+"), "_b8_"),
)
_TREE_PREFIX = re.compile(r"^[\s:+\-]*")
_TOKEN = re.compile(r"[^\s,\[\]()]+")
_NODE = re.compile(r"^\(\d+\) ([A-Za-z]\w*)", re.M)


def strip_volatile(text: str, sf_dir: str) -> str:
    """``text`` (a formatted plan) with the fixture directory, scratch
    paths under the temp directory and the ``_VOLATILE`` ids taken out."""
    for path in {sf_dir.rstrip("/"), os.path.realpath(sf_dir)}:
        text = text.replace(path, "<sf>")
    text = re.sub(re.escape(tempfile.gettempdir()) + r"/[^\s,\]]*", "<tmp>", text)
    for pattern, repl in _VOLATILE:
        text = pattern.sub(repl, text)
    return text


def canonical_plan(text: str, sf_dir: str) -> str:
    """``strip_volatile(text)`` with each line's tokens sorted after its
    tree prefix. Sorting makes list order inside a line immaterial:
    Catalyst orders an Expand's projections by hashing expression ids,
    so q_data_profile's changed with the order keys were planned in."""
    lines = []
    for line in strip_volatile(text, sf_dir).splitlines():
        prefix = _TREE_PREFIX.match(line).group(0)
        lines.append(prefix + " ".join(sorted(_TOKEN.findall(line[len(prefix):]))))
    return "\n".join(lines)


def plan_digest(text: str, sf_dir: str) -> dict:
    """The manifest entry of one formatted plan: a hash of its canonical
    text and how many nodes of each type it has (counted from the
    numbered detail headers, since every node prints twice)."""
    canon = canonical_plan(text, sf_dir)
    return {"hash": hashlib.sha256(canon.encode()).hexdigest()[:16],
            "nodes": dict(sorted(Counter(_NODE.findall(text)).items()))}


def manifest_session(spark, sf_dir: str) -> dict:
    """What a manifest's plans depend on besides the code: the master
    (``defaultParallelism`` is printed in plans), the shuffle partitions
    and the fixture scale."""
    return {"master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "sf": os.path.basename(sf_dir.rstrip("/"))}


def plan_manifest(spark, sf_dir: str) -> dict:
    """``manifest_session`` plus ``plan_digest`` of every registered key
    in registry order. Each key is planned in its own ``newSession()``
    with the cache cleared, so nothing an earlier key or caller left
    behind reaches its plan: no cached relation, and no entry of the
    session memo (``tables._memo``), whose hits skip the eager work a
    first call runs. A key that raises records its exception type
    instead of a plan."""
    from flexcalc_spark import registry

    registry.load_all()
    plans = {}
    for key, fn in registry.QUERIES.items():
        spark.catalog.clearCache()
        try:
            plans[key] = plan_digest(plan_text(fn(spark.newSession(), sf_dir)), sf_dir)
        except Exception as exc:  # noqa: BLE001 — recorded, not fatal
            plans[key] = {"error": type(exc).__name__}
    spark.catalog.clearCache()
    return {**manifest_session(spark, sf_dir), "plans": plans}
