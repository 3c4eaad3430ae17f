"""Shared pieces of the two SQL workloads: loading the generated
TPC-H-shaped tables through the sink, the DuckDB twin over the same
staged CSV bytes, and result comparison."""

from __future__ import annotations

import datetime as dt
import decimal
import math

from .. import datagen
from . import sink_columns

#: TPC-H-like scale of the SQL workloads' tables (lineitem 60,000 rows)
SQL_SF = 0.01

DUCK_TYPES = {
    datagen.NUMBER: "DECIMAL(18,2)",
    datagen.STRING: "VARCHAR",
    datagen.DATE: "DATE",
    datagen.BOOLEAN: "BOOLEAN",
}


class StagedTables:
    """The generated tables, their wire payloads staged as files, and
    the loader that pushes them through the sink."""

    def __init__(self, ctx, names):
        tables = datagen.tpch(ctx.seed, SQL_SF)
        self.tables = {n: tables[n] for n in names}
        self.paths = {}
        for name, t in self.tables.items():
            path = ctx.path("staged", f"{name}.csv")
            with open(path, "wb") as fh:
                fh.write(t.csv_bytes())
            self.paths[name] = path

    def load(self, sink) -> None:
        """Push every table through the sink (bytes, as a client sends)."""
        for name, t in self.tables.items():
            with open(self.paths[name], "rb") as fh:
                sink.consume("/" + name, sink_columns(t), fh.read())

    def duck(self):
        """A DuckDB connection holding the same staged CSV bytes."""
        import duckdb

        con = duckdb.connect()
        for name, t in self.tables.items():
            cols = ", ".join(
                f"'{c}': '{DUCK_TYPES[k]}'" for c, k in t.columns
            )
            con.execute(
                f"CREATE TABLE {name} AS SELECT * FROM read_csv("
                f"'{self.paths[name]}', header=false, delim=',', quote='\"', "
                f"escape='\"', columns={{{cols}}})"
            )
        return con


def norm_value(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()[:10] if type(v) is dt.date else v.isoformat()
    return v


def norm_rows(rows) -> list[tuple]:
    return [tuple(norm_value(v) for v in row) for row in rows]


def _sort_key(row):
    return tuple(
        (0, "") if v is None else (1, round(v, 4)) if isinstance(v, (int, float))
        else (2, str(v))
        for v in row
    )


def same_rows(got, want, ordered: bool) -> str | None:
    """None when equal (numbers to a relative 1e-9), else a reason."""
    got, want = norm_rows(got), norm_rows(want)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for i, (a, b) in enumerate(zip(got, want)):
        if len(a) != len(b):
            return f"row {i}: {len(a)} columns, expected {len(b)}"
        for x, y in zip(a, b):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool) and not isinstance(y, bool):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return f"row {i}: {a} != expected {b}"
            elif x != y:
                return f"row {i}: {a} != expected {b}"
    return None
