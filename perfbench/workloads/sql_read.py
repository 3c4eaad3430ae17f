"""``sql_read``: H2-dialect SELECTs through ``Engine.execute_sql`` over
tables that set-up loaded through the sink. Nothing is written.

A cycle is LOOKUPS point lookups by key, every analytic template once
(aggregates, joins, top-k, and the H2-only grammar ``TOP``,
``CASEWHEN`` and quantified ``ALL``/``ANY``) and every catalog
template once (``INFORMATION_SCHEMA`` and ``SHOW``), in seeded order
with seeded keys, ranges and limits. The mix is chosen, not observed
traffic: each analytic and catalog template once, and enough lookups
that they are about half the operations.

Check: every result equals DuckDB's over the same staged CSV bytes,
with an ANSI twin for the H2-only syntax; catalog results equal the
loaded table set and column lists.
"""

from __future__ import annotations

import datetime as dt
import functools

from ..harness import Op, class_percentile_ms
from .sqlbase import StagedTables, same_rows

TABLES = ("customer", "orders", "lineitem")
LOOKUPS = 12
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _date(rng, lo=dt.date(1992, 6, 1), days=2000) -> str:
    return (lo + dt.timedelta(days=int(rng.integers(0, days)))).isoformat()


def lookup_templates(rng, sizes):
    """(template, H2 text, DuckDB twin, ordered) for one lookup."""
    k = int(rng.integers(0, sizes["orders"]))
    c = int(rng.integers(0, sizes["customer"]))
    choice = int(rng.integers(0, 3))
    if choice == 0:
        q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             f"o_orderdate FROM orders WHERE o_orderkey = {k}")
        return "order_by_key", q, q, False
    if choice == 1:
        q = ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
             f"WHERE c_custkey = {c}")
        return "customer_by_key", q, q, False
    q = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
         f"FROM lineitem WHERE l_orderkey = {k}")
    return "lines_of_order", q, q, False


def analytic_templates(rng):
    d, d2 = _date(rng), _date(rng)
    lo, hi = min(d, d2), max(d, d2)
    seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
    k = int(rng.integers(5, 30))
    price = int(rng.integers(50_000, 400_000))
    nation = int(rng.integers(0, 25))
    out = [
        ("pricing_summary",
         "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
         "SUM(l_extendedprice) AS sum_base, "
         "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc, "
         "AVG(l_discount) AS avg_disc, COUNT(*) AS n FROM lineitem "
         f"WHERE l_shipdate <= DATE '{d}' GROUP BY l_returnflag, l_linestatus",
         None, False),
        ("segment_revenue",
         "SELECT c_mktsegment, COUNT(*) AS n, SUM(o_totalprice) AS rev "
         "FROM orders JOIN customer ON o_custkey = c_custkey "
         f"WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}' "
         "GROUP BY c_mktsegment", None, False),
        ("top_spenders",
         "SELECT o_custkey, SUM(o_totalprice) AS spent FROM orders "
         f"GROUP BY o_custkey ORDER BY spent DESC, o_custkey LIMIT {k}",
         None, True),
        ("shipping_priority",
         "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS rev, "
         "o_orderdate FROM customer JOIN orders ON c_custkey = o_custkey "
         "JOIN lineitem ON l_orderkey = o_orderkey "
         f"WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}' "
         f"AND l_shipdate > DATE '{d}' GROUP BY l_orderkey, o_orderdate "
         "ORDER BY rev DESC, l_orderkey LIMIT 10", None, True),
        ("h2_top",
         f"SELECT TOP {k} c_custkey, c_acctbal FROM customer WHERE c_nationkey = "
         f"{nation} ORDER BY c_acctbal DESC, c_custkey",
         "SELECT c_custkey, c_acctbal FROM customer WHERE c_nationkey = "
         f"{nation} ORDER BY c_acctbal DESC, c_custkey LIMIT {k}", True),
        ("h2_casewhen",
         f"SELECT CASEWHEN(o_totalprice > {price}, 'big', 'small') AS bucket, "
         f"COUNT(*) AS n FROM orders GROUP BY CASEWHEN(o_totalprice > {price}, "
         "'big', 'small')",
         f"SELECT CASE WHEN o_totalprice > {price} THEN 'big' ELSE 'small' END "
         f"AS bucket, COUNT(*) AS n FROM orders GROUP BY 1", False),
        ("h2_all",
         "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > ALL "
         f"(SELECT c_acctbal * 50 FROM customer WHERE c_nationkey = {nation})",
         "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > "
         f"(SELECT MAX(c_acctbal * 50) FROM customer WHERE c_nationkey = {nation})",
         False),
        ("h2_any",
         "SELECT COUNT(*) AS n FROM orders WHERE o_custkey = ANY "
         f"(SELECT c_custkey FROM customer WHERE c_nationkey = {nation})",
         "SELECT COUNT(*) AS n FROM orders WHERE o_custkey IN "
         f"(SELECT c_custkey FROM customer WHERE c_nationkey = {nation})", False),
    ]
    return [(t, q, twin or q, ordered) for t, q, twin, ordered in out]


class SqlRead:
    name = "sql_read"
    light, heavy = "lookup", "analytic"
    # one load of the three tables a run: a cold load takes 10 s and the
    # run budget goes to warm-up instead
    setup_reps = 1
    # lookup and analytic latencies fall until about the fourth cycle
    # (lookups 124, 96, 89, then 65-80 ms on a 4-core VM)
    warm_cycles = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng(20)

    def prepare(self) -> None:
        self.staged = StagedTables(self.ctx, TABLES)
        self.sizes = {n: len(t.rows) for n, t in self.staged.tables.items()}

    def setup(self) -> None:
        self.engine = self.ctx.new_engine()
        self.staged.load(self.engine.csv_create_sink())

    def _select(self, sql: str):
        return [tuple(r) for r in self.engine.execute_sql(sql).collect()]

    def _op(self, cls, template, sql, twin, ordered) -> Op:
        return Op(cls, template, functools.partial(self._select, sql),
                  {"sql": sql, "twin": twin, "ordered": ordered})

    def next_cycle(self) -> list[Op]:
        ops = [self._op("lookup", *lookup_templates(self.rng, self.sizes))
               for _ in range(LOOKUPS)]
        ops += [self._op("analytic", *t) for t in analytic_templates(self.rng)]
        table = TABLES[int(self.rng.integers(0, len(TABLES)))]
        ops += [
            Op("catalog", "information_schema_tables", functools.partial(
                self._select,
                "SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES "
                "WHERE TABLE_SCHEMA = 'PUBLIC'"), {"expect": "tables"}),
            Op("catalog", "show_columns", functools.partial(
                self._select, f"SHOW COLUMNS FROM {table}"),
                {"expect": "columns", "table": table}),
        ]
        order = self.rng.permutation(len(ops)).tolist()
        return [ops[i] for i in order]

    def check(self, records) -> dict:
        con = self.staged.duck()
        bad = {}
        for r in records:
            if not r.ok:
                continue
            r.info["rows_out"] = len(r.result)
            if "twin" in r.info:
                want = con.execute(r.info["twin"]).fetchall()
                why = same_rows(r.result, want, r.info["ordered"])
            elif r.info["expect"] == "tables":
                got = sorted(str(row[0]).lower() for row in r.result)
                why = None if got == sorted(TABLES) else f"tables {got}"
            else:
                t = self.staged.tables[r.info["table"]]
                got = [str(row[0]).lower() for row in r.result]
                want = [c for c, _ in t.columns]
                why = None if got == want else f"columns {got} != {want}"
            if why:
                bad[r.op_id] = f"{r.template}: {why}"
        con.close()
        return bad

    def named_metrics(self, records) -> dict:
        out = {}
        for cls in ("lookup", "analytic"):
            for q in (50, 90):
                v, n = class_percentile_ms(records, cls, q)
                out[f"{cls}_p{q}_ms"] = (v, "ms", n)
        return out
