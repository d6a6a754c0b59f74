"""Untimed output checks.

A query with a DuckDB oracle in ``__spark_entry__.oracle_sql()`` is
compared on the same generated input with the canonical row hash of
``tests/oracle_harness.py``. That hash prints floats to 9 significant
digits, and a sum of cents can land exactly on a rounding boundary
there, where Spark and DuckDB, adding in different orders, round it
apart (``pricing_summary`` on one input: 30408676.1 against
30408676.2). So when only the hash differs, the rows are compared again
with floats equal to a relative 1e-9. The ML metrics query has no
oracle: its schema, row count and value ranges are checked instead.
"""

from __future__ import annotations

import math

ML_MODELS = {"rf", "gbt", "dt"}


class Collected:
    """A query result as the client received it: the columns and the
    collected rows, shaped like the DataFrame methods the oracle harness
    calls, so checking never runs the query a second time."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows

    def count(self) -> int:
        return len(self._rows)


def _check_ml_metrics(df) -> str | None:
    if df.columns != ["model", "precision", "recall", "f1"]:
        return f"columns {df.columns}"
    rows = df.collect()
    if {r["model"] for r in rows} != ML_MODELS or len(rows) != len(ML_MODELS):
        return f"models {[r['model'] for r in rows]}"
    for r in rows:
        for k in ("precision", "recall", "f1"):
            v = r[k]
            if v is None or math.isnan(v) or not 0.0 <= v <= 1.0:
                return f"{r['model']}.{k} = {v} outside [0, 1]"
    return None


#: checks for queries that have no SQL oracle
NO_ORACLE_CHECKS = {"ml_train_metrics": _check_ml_metrics}


def _close(a, b) -> bool:
    from oracle_harness import _canon

    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(_close, a, b))
    return _canon(a) == _canon(b)


def _sorted_rows(cols: list[str], rows: list) -> list[tuple]:
    """Rows with their columns in name order, sorted on a key that
    prints floats to 6 significant digits, well clear of the 9-digit
    rounding the hash trips on."""
    from oracle_harness import _canon

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rows]
    return sorted(rows, key=lambda r: tuple(
        f"{v:.6g}" if isinstance(v, float) else _canon(v) for v in r))


def _rows_close(df, oracle: str, sf_dir: str) -> bool:
    from oracle_harness import duckdb_rows

    d_cols, d_rows = duckdb_rows(oracle, sf_dir)
    return all(map(_close, _sorted_rows(df.columns, df.collect()),
                   _sorted_rows(d_cols, d_rows)))


def check(name: str, df, sf_dir: str, oracles: dict) -> str | None:
    """Return None when the output of query ``name`` is right, else why."""
    if name in NO_ORACLE_CHECKS:
        return NO_ORACLE_CHECKS[name](df)
    from oracle_harness import compare

    res = compare(df, oracles[name], sf_dir)
    if res["hash_match"]:
        return None
    if res["rows_match"] and res["schema_match"] and _rows_close(df, oracles[name], sf_dir):
        return None
    return (
        f"rows {res['rows_spark']} vs {res['rows_duckdb']}, "
        f"schema match {res['schema_match']}, {res.get('diff_sample')}"
    )
