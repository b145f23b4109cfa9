"""Output checks against the DuckDB oracles of ``oracle_sql()``.

Rows are compared the way the repository's oracle sweep compares them:
columns sorted by name, every value stringified, rows sorted, and the
two multisets required to be equal.
"""

from __future__ import annotations

import os

import duckdb


class Oracle:
    """DuckDB over the generated input tables."""

    def __init__(self, input_dir: str):
        self.con = duckdb.connect()
        for fname in sorted(os.listdir(input_dir)):
            if fname.endswith(".parquet"):
                path = os.path.join(input_dir, fname)
                self.con.execute(
                    f"CREATE VIEW {fname[:-8]} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, tuple] = {}

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        """(sorted column names, sorted stringified rows) of ``sql``."""
        if sql not in self._cache:
            cur = self.con.execute(sql)
            names = [d[0] for d in cur.description]
            order = sorted(range(len(names)), key=lambda i: names[i])
            rows = sorted(tuple(str(r[i]) for i in order) for r in cur.fetchall())
            self._cache[sql] = ([names[i] for i in order], rows)
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    """The same form for a Spark DataFrame, collected through Arrow."""
    cols = sorted(df.columns)
    table = df.select(*cols).toArrow()
    values = [[str(v) for v in table.column(c).to_pylist()] for c in cols]
    return cols, sorted(zip(*values))


def mismatch(actual: tuple, expected: tuple) -> str | None:
    """None when equal, else a one-line description of the difference."""
    (acols, arows), (ecols, erows) = actual, expected
    if acols != ecols:
        return f"columns {acols} != {ecols}"
    if arows != erows:
        extra = len(set(arows) - set(erows))
        missing = len(set(erows) - set(arows))
        return (f"rows {len(arows)} vs oracle {len(erows)}: "
                f"{extra} unexpected, {missing} missing")
    return None
