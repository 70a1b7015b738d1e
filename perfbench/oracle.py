"""Independent correctness checks, evaluated with DuckDB.

- ``SyncReplay``: the expected content of every sync target table after
  the cycles that completed, replayed from the source files and the
  seeded schedule (not from anything the service reported).
- ``CalcOracle``: the bound stored query evaluated over the exact
  snapshot files a /calc request read.

Both produce golden aggregates — ``count(*)`` plus exact
``decimal(38,6)`` sums of the numeric columns. Target tables are
compared with ``validate.golden_aggregates`` of the store's table;
exports with the same aggregates of the exported files.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb

import queries
import schedule


def golden_sql(relation_sql: str, columns: list[str]) -> str:
    sums = "".join(f", sum(try_cast({c} AS DECIMAL(38,6)))" for c in columns)
    return f"SELECT count(*){sums} FROM ({relation_sql})"


def golden(con, relation_sql: str, columns: list[str]) -> tuple[int, dict[str, Decimal | None]]:
    row = con.execute(golden_sql(relation_sql, columns)).fetchone()
    return row[0], dict(zip(columns, row[1:]))


NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT",
           "DOUBLE", "DECIMAL")


def matches(got: tuple[int, dict], expected: tuple[int, dict]) -> bool:
    return got[0] == expected[0] and all(
        got[1][c] == v for c, v in expected[1].items()
    )


class SyncReplay:
    """Expected table contents after cycles ``0 .. n-1`` of ``sched``."""

    def __init__(self, source_paths: dict[str, str], sched: schedule.SyncSchedule, n: int):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t, p in source_paths.items():
            self.con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM read_parquet('{p}')")
        done = sched.cycles[:n]
        cursor = done[-1].cursor if done else sched.start_cursor
        self.cursor = cursor
        self.con.execute(
            "CREATE TABLE cycles (c INTEGER, cursor BIGINT, lo TIMESTAMP, hi TIMESTAMP,"
            " klo BIGINT, khi BIGINT)"
        )
        if done:
            self.con.executemany(
                "INSERT INTO cycles VALUES (?, ?, ?, ?, ?, ?)",
                [(c.index, c.cursor, c.window[0], c.window[1], *c.update_keys) for c in done],
            )
        self.n = n

    def relation(self, table: str) -> str | None:
        """DuckDB SQL of the table's expected rows (None: not created)."""
        if table in ("region", "nation", "supplier", "customer"):
            return f"SELECT * FROM src_{table}"
        if table == "orders":
            return f"SELECT * FROM src_orders WHERE o_orderkey <= {self.cursor}"
        if table == "lineitem":
            # each line carries the values of the last cycle whose
            # update batch covered its order
            disc, tax = schedule.update_values_sql("u.c + 1", "l")
            return f"""
                WITH u AS (
                  SELECT l.l_orderkey, l.l_linenumber, max(c.c) AS c
                  FROM src_lineitem l JOIN cycles c
                    ON l.l_orderkey BETWEEN c.klo AND c.khi
                  GROUP BY ALL)
                SELECT l.* EXCLUDE (l_discount, l_tax),
                    CASE WHEN u.c IS NULL THEN l.l_discount
                         ELSE CAST({disc} AS DOUBLE) END AS l_discount,
                    CASE WHEN u.c IS NULL THEN l.l_tax
                         ELSE CAST({tax} AS DOUBLE) END AS l_tax
                FROM src_lineitem l
                LEFT JOIN u USING (l_orderkey, l_linenumber)
                WHERE l.l_orderkey <= {self.cursor}"""
        if table == "lineitem_win":
            if self.n == 0:
                return None
            # a row survives from the last cycle whose window held its
            # ship date, if its order was visible in that cycle
            return """
                WITH w AS (
                  SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, max(c.c) AS c
                  FROM src_lineitem l JOIN cycles c
                    ON l.l_shipdate >= c.lo AND l.l_shipdate < c.hi
                  GROUP BY ALL)
                SELECT l.* FROM src_lineitem l
                JOIN w USING (l_orderkey, l_linenumber, l_shipdate)
                JOIN cycles c ON c.c = w.c
                WHERE l.l_orderkey <= c.cursor"""
        raise KeyError(table)


class CalcOracle:
    """Evaluates /calc requests with DuckDB over the snapshot files they
    read, and the exports over their files. The snapshot's tables are
    loaded once."""

    def __init__(self, snapshot: dict[str, str]) -> None:
        self._con = duckdb.connect()
        for t, d in snapshot.items():
            self._con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")
        self._exports = duckdb.connect()

    def export_golden(self, files: list[str]) -> tuple[int, dict]:
        """Golden aggregates of an export's parquet files over their
        numeric columns."""
        rel = f"SELECT * FROM read_parquet({files!r})"
        cols = [name for name, typ, *_ in self._exports.execute(f"DESCRIBE {rel}").fetchall()
                if typ.split("(")[0] in NUMERIC]
        return golden(self._exports, rel, cols)

    def golden(self, params: dict[str, str], columns: list[str]) -> tuple[int, dict]:
        return golden(self._con, queries.oracle_sql(params), columns)

    def close(self) -> None:
        self._con.close()
        self._exports.close()
