"""Verify specific graded keys against the DuckDB oracle at sf0.01.

Usage: cd /tmp && python /root/repo/scripts/verify_keys.py q_ngram_lm ...
(no args = every oracle-backed key). Mirrors the driver's compare:
vanilla SparkSession, column sort by name, canonicalized value rows.

Full-registry sweeps run CHUNKED by default (fresh process per ~90
keys): a 243-key sf0.1 sweep in ONE JVM accumulates enough driver
session state to die with a broadcast OOM near the tail (key ~205 in
r12, ~242 in r13 — the key itself is always fine in a fresh session).
`--chunk-size N` overrides (0 = single process); `--inline` is the
child marker and forces the in-process path.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHUNK_DEFAULT = 90


def _run_chunked(keys: list[str], chunk_size: int) -> int:
    """Spawn a fresh interpreter per chunk (the r12/r13 sweep-OOM
    mitigation, VERDICT r13 #7). Sequential on purpose — two Spark
    JVMs on one box would contend and distort any timing read."""
    import subprocess

    rc = 0
    for i in range(0, len(keys), chunk_size):
        chunk = keys[i:i + chunk_size]
        print(f"--- chunk {i // chunk_size + 1}: "
              f"{len(chunk)} keys ({chunk[0]} .. {chunk[-1]})")
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--inline", *chunk]
        )
        rc = rc or r.returncode
    print("SWEEP RESULT:", "ALL MATCH" if rc == 0 else "FAILURES above")
    return rc


def canon(v):
    import numpy as _np

    if isinstance(v, (list, tuple, _np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return "DECIMAL!" + str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def main() -> int:
    args = sys.argv[1:]
    inline = "--inline" in args
    chunk_size = CHUNK_DEFAULT
    if "--chunk-size" in args:
        i = args.index("--chunk-size")
        usage = "usage: verify_keys.py [--chunk-size N] [keys...] (N >= 0)"
        if i + 1 >= len(args):
            raise SystemExit(usage)
        try:
            chunk_size = int(args[i + 1])
        except ValueError:
            raise SystemExit(usage)
        if chunk_size < 0:
            # a negative value would silently disable the OOM-
            # mitigating chunking (r14 review) — only an explicit 0
            # may do that
            raise SystemExit(usage)
        del args[i:i + 2]
    args = [a for a in args if a != "--inline"]
    if not inline and chunk_size > 0 and len(args) != 1:
        # chunk any multi-key (or full) sweep — an explicit long key
        # list accumulates the same one-JVM driver state as the no-arg
        # sweep (r12/r13 OOM mode). Resolve the key list WITHOUT
        # starting Spark (importing the entry module only builds the
        # registry), then fan out to fresh processes.
        import __spark_entry__ as ent_light

        qs, os_ = ent_light.queries(), ent_light.oracle_sql()
        keys = args or [k for k in qs if k in os_]
        if len(keys) > chunk_size:
            return _run_chunked(keys, chunk_size)

    import duckdb
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as ent

    con = duckdb.connect()
    # SPARK_GRAFT_VERIFY_SF overrides for the sf0.1 spot-check gate
    sf = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    qs, os_ = ent.queries(), ent.oracle_sql()
    keys = args or [k for k in qs if k in os_]
    fails = []
    import gc

    for k in keys:
        sdf = qs[k](spark, sf).toPandas()
        # drop cached relations between keys: a full-registry sweep at
        # sf0.1 accumulates enough driver state in one JVM that key
        # ~205 died broadcasting (r12) — caches are per-key scratch,
        # never shared across keys, so clearing them is free
        spark.catalog.clearCache()
        # ...and release the keys' localCheckpoint RDD blocks too (r15):
        # clearCache only covers CACHED relations; checkpoint blocks
        # stay pinned until the Python DataFrame refs are collected and
        # the JVM ContextCleaner runs. With the r15 rotation fronting
        # the 4 heaviest keys together, a vanilla 1g-driver session hit
        # the r12 broadcast-OOM mode at key 4 (not ~205) at sf0.1 —
        # a gc.collect() between keys drops the py4j handles so the
        # cleaner can reclaim the blocks before the next key builds
        # its broadcasts.
        gc.collect()
        if k not in os_:
            print(f"  {k}: rows-only, {len(sdf)} rows")
            continue
        odf = con.execute(os_[k]).fetchdf()
        sc, oc = sorted(sdf.columns), sorted(odf.columns)
        srows = sorted(
            tuple(canon(v) for v in r)
            for r in sdf[sc].itertuples(index=False, name=None)
        )
        orows = sorted(
            tuple(canon(v) for v in r)
            for r in odf[oc].itertuples(index=False, name=None)
        )
        ok = sc == oc and srows == orows
        if not ok:
            fails.append(k)
            if sc != oc:
                print(f"  {k}: SCHEMA spark={sc} oracle={oc}")
            else:
                diff = [
                    (a, b) for a, b in zip(srows, orows) if a != b
                ][:3]
                print(f"  {k}: first diffs {diff}")
        print(f"  {k}: {'MATCH' if ok else 'MISMATCH'} ({len(srows)} rows)")
    print("RESULT:", "ALL MATCH" if not fails else f"FAILS: {fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
