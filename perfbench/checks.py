"""Output checks, run outside the timed region.

* ``canon_digest`` — row-order-insensitive digest of a result frame, with
  the canonical value rendering of the repo's DuckDB correctness gate
  (floats by ``repr``, no int/float collapsing).
* ``same_report`` — structural equality of two JSON-shaped reports, floats
  within a relative tolerance: evaluation reports are order-sensitive
  float sums, so a store-less recompute may differ in the last bits.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

REPORT_RTOL = 1e-9


def canon_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        return repr(f)
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_digest(pdf: pd.DataFrame) -> tuple[int, tuple, str]:
    """``(rows, sorted column names, sha256 of the sorted rows)``."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for row in rows:
        h.update(row.encode())
        h.update(b"\x1e")
    return len(pdf), tuple(cols), h.hexdigest()


def same_report(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_report(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_report(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=REPORT_RTOL, abs_tol=1e-12)
        except (TypeError, ValueError):
            return False
    return a == b


class OracleChecker:
    """DuckDB views over the generated tables plus the repo's
    ``oracle_sql()`` twins of the query entries."""

    TABLES = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.oracle_sql = oracle_sql
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str) -> tuple:
        if name not in self._expected:
            self._expected[name] = canon_digest(
                self.con.execute(self.oracle_sql[name]).df()
            )
        return self._expected[name]

    def check(self, name: str, pdf: pd.DataFrame) -> bool:
        return canon_digest(pdf) == self.expected(name)

    def close(self) -> None:
        self.con.close()
