"""``sql_write``: writes and DDL through ``Engine.execute_sql`` on
tables that set-up loaded through the sink. Every write and every DDL
statement is followed by a read that must see it.

A cycle runs, in seeded order of the groups (each group's statements
stay in order):

* writes — UPDATE, DELETE, INSERT, MERGE ... KEY and MERGE ... USING
  (rewrite-based DML: each rewrites the table's parquet);
* DDL — CREATE TABLE AS / DROP TABLE, ALTER TABLE ADD / DROP COLUMN,
  CREATE SEQUENCE with NEXT VALUE FOR / DROP SEQUENCE, CREATE VIEW /
  DROP VIEW (the catalog and the JSON registries);
* one read after each (class ``verify``).

Check: after the loop the statement stream is replayed, in order, on
an independent model — DuckDB over the same staged CSV bytes, with
ANSI twins for the H2 grammar — and every read and update count must
equal the model's at that point of the stream.
"""

from __future__ import annotations

import functools

from ..harness import Op, class_percentile_ms
from .sqlbase import StagedTables, same_rows

TABLES = ("customer", "orders")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


class SqlWrite:
    name = "sql_write"
    light, heavy = "ddl", "write"
    setup_reps = 3
    warm_cycles = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng(30)
        self._cycle = 0

    def prepare(self) -> None:
        self.staged = StagedTables(self.ctx, TABLES)
        self.n_orders = len(self.staged.tables["orders"].rows)
        self.n_cust = len(self.staged.tables["customer"].rows)

    def setup(self) -> None:
        self.engine = self.ctx.new_engine()
        self.staged.load(self.engine.csv_create_sink())

    # ---- statement execution -------------------------------------------

    def _exec(self, sql: str):
        out = self.engine.execute_sql(sql)
        if hasattr(out, "collect"):
            return [tuple(r) for r in out.collect()]
        return out

    def _op(self, cls, template, sql, model, **info) -> Op:
        """``model``: DuckDB statements that apply the same change, or
        for reads the twin query (default: the same text)."""
        return Op(cls, template, functools.partial(self._exec, sql),
                  {"sql": sql, "model": model, **info})

    def _read(self, template, sql, twin=None, ordered=False) -> Op:
        return self._op("verify", template, sql, [twin or sql], ordered=ordered)

    # ---- the stream ------------------------------------------------------

    def _writes(self, n: int) -> list[list[Op]]:
        rng = self.rng
        groups = []
        a = int(rng.integers(0, self.n_orders - 50))
        w = int(rng.integers(5, 40))
        tag = f"U{n % 10}"
        sql = (f"UPDATE orders SET o_orderstatus = '{tag}', o_totalprice = "
               f"o_totalprice + {int(rng.integers(1, 100))} "
               f"WHERE o_orderkey BETWEEN {a} AND {a + w}")
        groups.append([
            self._op("write", "update", sql, [sql], count=True),
            self._read("after_update",
                       "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
                       f"WHERE o_orderkey BETWEEN {a} AND {a + w}"),
        ])
        a = int(rng.integers(0, self.n_orders - 50))
        w = int(rng.integers(2, 20))
        sql = f"DELETE FROM orders WHERE o_orderkey BETWEEN {a} AND {a + w}"
        groups.append([
            self._op("write", "delete", sql, [sql], count=True),
            self._read("after_delete",
                       "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders"),
        ])
        base = 10_000_000 + n * 100
        rows = [
            (base + i, int(rng.integers(0, self.n_cust)),
             int(rng.integers(1000, 99999)),
             f"1998-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}")
            for i in range(int(rng.integers(2, 8)))
        ]
        values = ", ".join(
            f"({k}, {c}, 'O', {p}.50, DATE '{d}', '3-MEDIUM')" for k, c, p, d in rows
        )
        sql = ("INSERT INTO orders (o_orderkey, o_custkey, o_orderstatus, "
               "o_totalprice, o_orderdate, o_orderpriority) VALUES " + values)
        groups.append([
            self._op("write", "insert", sql, [sql], count=True),
            self._read("after_insert",
                       "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
                       f"FROM orders WHERE o_orderkey >= {base} AND o_orderkey < {base + 100}"),
        ])
        keys = sorted(set(
            [int(k) for k in rng.integers(0, self.n_cust, 3)] + [900_000 + n * 10 + i for i in range(2)]
        ))
        seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
        tuples = [
            (k, f"Merged#{k}", int(rng.integers(0, 25)), int(rng.integers(-999, 9999)))
            for k in keys
        ]
        values = ", ".join(f"({k}, '{nm}', {nat}, {bal}.25, '{seg}')" for k, nm, nat, bal in tuples)
        sql = ("MERGE INTO customer (c_custkey, c_name, c_nationkey, c_acctbal, "
               f"c_mktsegment) KEY (c_custkey) VALUES {values}")
        in_keys = ", ".join(str(k) for k in keys)
        groups.append([
            self._op("write", "merge_key", sql, [
                f"DELETE FROM customer WHERE c_custkey IN ({in_keys})",
                f"INSERT INTO customer VALUES {values}",
            ]),
            self._read("after_merge_key",
                       "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                       f"FROM customer WHERE c_custkey IN ({in_keys})"),
        ])
        keys = sorted(set(
            [int(k) for k in rng.integers(0, self.n_cust, 3)] + [950_000 + n * 10]
        ))
        bumps = [(k, int(rng.integers(1, 500))) for k in keys]
        src_rows = ", ".join(f"({k}, {b})" for k, b in bumps)
        in_keys = ", ".join(str(k) for k in keys)
        sql = ("MERGE INTO customer AS tg USING (SELECT * FROM VALUES "
               f"{src_rows} AS v(k, bump)) AS s ON tg.c_custkey = s.k "
               "WHEN MATCHED THEN UPDATE SET c_acctbal = tg.c_acctbal + s.bump "
               "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, "
               "c_acctbal, c_mktsegment) VALUES (s.k, 'New', 0, s.bump, 'BUILDING')")
        src = f"(SELECT * FROM (VALUES {src_rows}) AS v(k, bump))"
        groups.append([
            self._op("write", "merge_using", sql, [
                f"UPDATE customer SET c_acctbal = c_acctbal + s.bump FROM {src} AS s "
                "WHERE customer.c_custkey = s.k",
                f"INSERT INTO customer SELECT s.k, 'New', 0, s.bump, 'BUILDING' "
                f"FROM {src} AS s WHERE s.k NOT IN (SELECT c_custkey FROM customer)",
            ]),
            self._read("after_merge_using",
                       "SELECT c_custkey, c_name, c_acctbal FROM customer "
                       f"WHERE c_custkey IN ({in_keys})"),
        ])
        return groups

    def _ddl(self, n: int) -> list[list[Op]]:
        rng = self.rng
        groups = []
        t = f"seg_summary_{n}"
        ctas = (f"CREATE TABLE {t} AS SELECT c_mktsegment, COUNT(*) AS n, "
                "SUM(c_acctbal) AS bal FROM customer GROUP BY c_mktsegment")
        exists = ("SELECT COUNT(*) AS n FROM INFORMATION_SCHEMA.TABLES "
                  f"WHERE LOWER(TABLE_NAME) = '{t}'")
        groups.append([
            self._op("ddl", "create_table_as", ctas, [ctas]),
            self._read("after_ctas", f"SELECT * FROM {t}"),
            self._op("ddl", "drop_table", f"DROP TABLE {t}", [f"DROP TABLE {t}"]),
            self._read("after_drop_table", exists,
                       "SELECT 0 AS n"),
        ])
        col = f"note_{n}"
        groups.append([
            self._op("ddl", "add_column", f"ALTER TABLE customer ADD COLUMN {col} VARCHAR",
                     [f"ALTER TABLE customer ADD COLUMN {col} VARCHAR"]),
            self._read("after_add_column",
                       f"SELECT COUNT(*) AS n, COUNT({col}) AS filled FROM customer"),
            self._op("ddl", "drop_column", f"ALTER TABLE customer DROP COLUMN {col}",
                     [f"ALTER TABLE customer DROP COLUMN {col}"]),
            self._read("after_drop_column",
                       "SELECT COUNT(*) AS n, SUM(c_acctbal) AS bal FROM customer"),
        ])
        seq, start = f"perf_seq_{n}", int(rng.integers(1, 10_000))
        groups.append([
            self._op("ddl", "create_sequence", f"CREATE SEQUENCE {seq} START WITH {start}",
                     [f"CREATE SEQUENCE {seq} START WITH {start}"]),
            self._read("next_value", f"SELECT NEXT VALUE FOR {seq} AS v",
                       f"SELECT nextval('{seq}') AS v"),
            self._op("ddl", "drop_sequence", f"DROP SEQUENCE {seq}", [f"DROP SEQUENCE {seq}"]),
        ])
        view, nation = f"perf_view_{n}", int(rng.integers(0, 25))
        create = (f"CREATE VIEW {view} AS SELECT c_custkey, c_acctbal FROM customer "
                  f"WHERE c_nationkey = {nation}")
        groups.append([
            self._op("ddl", "create_view", create, [create]),
            self._read("through_view",
                       f"SELECT COUNT(*) AS n, SUM(c_acctbal) AS bal FROM {view}"),
            self._op("ddl", "drop_view", f"DROP VIEW {view}", [f"DROP VIEW {view}"]),
        ])
        return groups

    def next_cycle(self) -> list[Op]:
        n = self._cycle
        self._cycle += 1
        groups = self._writes(n) + self._ddl(n)
        order = self.rng.permutation(len(groups)).tolist()
        return [op for i in order for op in groups[i]]

    # ---- check -----------------------------------------------------------

    def check(self, records) -> dict:
        con = self.staged.duck()
        bad = {}
        for r in sorted(records, key=lambda r: r.op_id):
            if not r.ok:
                continue  # the engine raised; the model skips it too
            if r.cls == "verify":
                want = con.execute(r.info["model"][0]).fetchall()
                r.info["rows_out"] = len(r.result)
                why = same_rows(r.result, want, r.info.get("ordered", False))
            else:
                changed = None
                for stmt in r.info["model"]:
                    res = con.execute(stmt).fetchall()
                    if res and changed is None and r.info.get("count"):
                        changed = int(res[0][0])
                why = None
                if r.info.get("count") and r.result != changed:
                    why = f"update count {r.result!r}, model {changed}"
            if why:
                bad[r.op_id] = f"{r.template}: {why}"
        con.close()
        return bad

    def named_metrics(self, records) -> dict:
        out = {}
        for q in (50, 90):
            v, n = class_percentile_ms(records, "write", q)
            out[f"write_p{q}_ms"] = (v, "ms", n)
        v, n = class_percentile_ms(records, "ddl", 50)
        out["ddl_p50_ms"] = (v, "ms", n)
        return out
