"""Correctness gate: compare a Spark result, written as Parquet, with
its registry DuckDB oracle over the same generated input files.

The rules are those of ``tests/conftest.py``'s ``assert_parity``:
columns matched by name, rows compared as a multiset (order ignored),
cells compared exactly within a type class, where integer widths are
interchangeable but int, float, decimal and bool are distinct classes.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb


def _type_class(sql_type: str) -> str:
    t = sql_type.upper()
    if t.endswith("[]"):
        return "list"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t


class Oracle:
    """A DuckDB connection with the generated tables registered as views."""

    def __init__(self, tables: dict[str, str]) -> None:
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 2")
        for name, path in tables.items():
            self._con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self._con.close()

    def _schema(self, rel: str) -> dict[str, str]:
        return {row[0]: _type_class(row[1])
                for row in self._con.execute(f"DESCRIBE {rel}").fetchall()}

    def mismatches(self, result_dir: str, oracle_sql: str) -> tuple[int, str]:
        """(number of differing rows, reason) between the Parquet files
        in `result_dir` and the oracle query; (0, "") when they agree."""
        files = [f for f in glob.glob(os.path.join(result_dir, "*.parquet"))]
        if not files:
            return 1, "no result files"
        con = self._con
        con.execute("CREATE OR REPLACE TEMP TABLE _got AS SELECT * FROM "
                    f"read_parquet({files!r})")
        con.execute(f"CREATE OR REPLACE TEMP TABLE _want AS {oracle_sql}")
        got, want = self._schema("_got"), self._schema("_want")
        if sorted(got) != sorted(want):
            return 1, f"columns {sorted(got)} != {sorted(want)}"
        bad = [c for c in got if got[c] != want[c]]
        if bad:
            return 1, "type class " + ", ".join(
                f"{c}: {got[c]} != {want[c]}" for c in bad)
        cols = ", ".join(f'"{c}"' for c in sorted(got))
        n_got = con.execute("SELECT count(*) FROM _got").fetchone()[0]
        n_want = con.execute("SELECT count(*) FROM _want").fetchone()[0]
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM _got EXCEPT ALL "
            f"SELECT {cols} FROM _want)) + (SELECT count(*) FROM (SELECT "
            f"{cols} FROM _want EXCEPT ALL SELECT {cols} FROM _got))"
        ).fetchone()[0]
        if n_got != n_want or diff:
            return max(diff, abs(n_got - n_want), 1), (
                f"rows spark={n_got} duckdb={n_want}, {diff} differ")
        if n_want == 0:
            return 0, "empty result"
        return 0, ""


def minute_bars(oracle_sql: str) -> str:
    """The registry's bar oracle at the 1-minute width the stream uses."""
    return re.sub(r"date_trunc\('hour'", "date_trunc('minute'", oracle_sql)
