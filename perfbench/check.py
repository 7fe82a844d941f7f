"""Output check: a key's result against its DuckDB oracle over the same
fixture files.

Rows are canonicalized the way scripts/verify_keys.py does it (column
names sorted, every value rendered to a string, rows sorted), so the
benchmark accepts exactly what the repository's verify sweep accepts.
The logic is copied rather than imported so the benchmark does not
depend on a script that may change under it.
"""

from __future__ import annotations

import datetime
import decimal
import math

import numpy as np

def canon(v) -> str:
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        # a Decimal in a result is a bug (keys emit DOUBLE/BIGINT)
        return "DECIMAL!" + str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def canon_frame(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(canon(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows


class Oracle:
    """DuckDB views over one fixture directory."""

    def __init__(self, sf_dir: str, tables, oracles: dict[str, str], threads: int):
        import duckdb

        self._sql = oracles
        self._want: dict[str, tuple] = {}
        self._con = duckdb.connect()
        self._con.execute(f"SET threads = {int(threads)}")
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )

    def mismatch(self, key: str, got: tuple[list[str], list[tuple[str, ...]]]) -> str | None:
        """None when ``got`` (a Spark result through ``canon_frame``)
        equals the oracle's answer, else a one-line reason. The oracle
        runs once per key."""
        if key not in self._want:
            self._want[key] = canon_frame(self._con.execute(self._sql[key]).fetchdf())
        want_cols, want_rows = self._want[key]
        cols, rows = got
        if cols != want_cols:
            return f"columns {cols} != oracle {want_cols}"
        if rows != want_rows:
            diff = next(
                ((a, b) for a, b in zip(rows, want_rows) if a != b),
                (len(rows), len(want_rows)),
            )
            return f"{len(rows)} rows vs oracle {len(want_rows)}; first diff {diff}"
        return None

    def close(self) -> None:
        self._con.close()
