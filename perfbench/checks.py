"""Output checks, run outside the timed part of every op.

- A query paired with a DuckDB oracle SQL is compared against it over the
  same parquet files: row count, column names and an order-insensitive
  canonical form of every value.
- An unpaired (approximate or iterative) query is checked by its row
  count, pinned per workload in ``pins.json``. The tables do not depend
  on the seed, so neither does the pin. Every run records each op's row
  count (``row_counts`` in its record), from which a pin is updated when
  the generator or the query changes on purpose.
- A fleet tick is compared against the connector's own DuckDB twin for
  the seed's groups, and the sink's ack must report one posted feature
  per feature row.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def normalize(rows: list[dict], columns: list[str]) -> list[tuple]:
    """Canonical, order-insensitive form of a result set: the same form
    ``tools/check_oracle.py`` compares, kept here because the benchmark
    imports nothing from ``tools/``."""
    out = []
    for row in rows:
        vals = []
        for c in columns:
            v = row[c]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            elif isinstance(v, (list, tuple)):
                vals.append(repr([str(x) for x in v]))
            else:
                vals.append(repr(str(v)) if v is not None else "NULL")
        out.append(tuple(vals))
    out.sort()
    return out


class Expected:
    """What each op of one workload must return."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._want: dict[str, tuple] = {}

    def add_oracle(self, op: str, sql: str) -> None:
        rel = self._con.sql(sql)
        cols = list(rel.columns)
        rows = [dict(zip(cols, r)) for r in rel.fetchall()]
        self._want[op] = ("oracle", sorted(cols), normalize(rows, sorted(cols)))

    def add_pin(self, op: str, n_rows: int) -> None:
        self._want[op] = ("rows", n_rows)

    def has(self, op: str) -> bool:
        return op in self._want

    def problem(self, op: str, rows: list[dict], columns: list[str]) -> str | None:
        """``None`` if the result is right, else what is wrong."""
        want = self._want[op]
        if want[0] == "rows":
            return None if len(rows) == want[1] else f"{len(rows)} rows, pinned {want[1]}"
        _, cols, norm = want
        if sorted(columns) != cols:
            return f"columns {sorted(columns)} != oracle {cols}"
        if len(rows) != len(norm):
            return f"{len(rows)} rows, oracle {len(norm)}"
        if normalize(rows, cols) != norm:
            return "values differ from the oracle"
        return None

    def close(self) -> None:
        self._con.close()


def load_pins(workload: str) -> dict[str, int]:
    with open(PINS_PATH) as f:
        return json.load(f).get(workload, {})

