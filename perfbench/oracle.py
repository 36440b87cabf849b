"""Result checks against each query's DuckDB oracle.

Values are canonicalized exactly as ``tools/check_oracle.py`` does it
(the repository's correctness gate), so a result the gate passes is a
result the benchmark passes.
"""

from __future__ import annotations

import importlib.util
from dataclasses import dataclass
from pathlib import Path


def load_check_oracle(root: Path):
    """Import ``tools/check_oracle.py`` of the checkout at ``root``."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", root / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Result:
    columns: list[str]
    type_classes: dict[str, str]
    rows: list[tuple]


def compare(got: Result, want: Result, rows_canon) -> list[str]:
    """Problems found comparing ``got`` with ``want``; empty when equal.

    Column names and coarse type classes must match, then the row
    count, then the order-insensitive canonical values."""
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns {sorted(got.columns)} != {sorted(want.columns)}")
    else:
        differ = {c: (got.type_classes[c], want.type_classes[c]) for c in got.columns
                  if got.type_classes[c] != want.type_classes[c]}
        if differ:
            problems.append(f"type classes differ: {differ}")
    if len(got.rows) != len(want.rows):
        problems.append(f"row count {len(got.rows)} != {len(want.rows)}")
    if not problems:
        a = rows_canon(got.columns, got.rows)
        b = rows_canon(want.columns, want.rows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
            problems.append(f"values differ, first: {diff}")
    return problems


class Oracle:
    """DuckDB views over one scale's tables plus the oracle SQL."""

    def __init__(self, root: Path, data_dir: str, tables: list[str]):
        import duckdb

        self.co = load_check_oracle(root)
        self.sql = self.co.entrymod.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self._want: dict[str, Result] = {}

    def spark_result(self, df, rows) -> Result:
        return Result(df.columns,
                      {f.name: self.co.spark_type_class(f.dataType) for f in df.schema.fields},
                      [tuple(r) for r in rows])

    def expected(self, name: str) -> Result:
        if name not in self._want:
            tbl = self.con.execute(self.sql[name]).arrow()
            cols = tbl.column_names
            self._want[name] = Result(
                cols,
                {c: self.co.arrow_type_class(tbl.schema.field(c).type) for c in cols},
                list(zip(*(tbl.column(c).to_pylist() for c in cols))) if cols else [()] * tbl.num_rows,
            )
        return self._want[name]

    def check(self, name: str, got: Result) -> list[str]:
        return compare(got, self.expected(name), self.co.rows_canon)

    def close(self) -> None:
        self.con.close()
