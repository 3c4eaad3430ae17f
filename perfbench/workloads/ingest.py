"""``ingest``: wire-format CSV pushes into ``CsvCreateSink.consume``,
each one replacing an existing table — the reference's own traffic.

Every cycle pushes each of 8 pool tables once (10–1,000 rows, sizes
log-uniform, two of the eight carrying quoted embedded newlines so the
multiLine fallback runs) and two bulk lineitem pushes (50,000 rows,
2.7 MB, one of each of two generated payloads) sent as iterators of
1 MiB chunks. Small pushes are metadata-bound, the bulk push is
task-bound.

The mix is chosen, not observed traffic: one push per pool table, two
of them multiLine so the fallback's median has two samples while plain
pushes stay the majority, and two bulk pushes; a cycle (about 9 s) then
fits one measured run.

Check: right after each push, untimed, the replaced table's row count
and content hash are read; after the loop each must equal that push's
own payload.
"""

from __future__ import annotations

import functools

from .. import datagen, stats
from ..harness import Op, class_percentile_ms
from . import sink_columns

POOL = 8
MULTILINE_PER_CYCLE = 2
BULK_ROWS = 50_000
BULK_TABLE = "bulk_lineitem"


class Ingest:
    name = "ingest"
    light, heavy = "push_small", "push_bulk"
    # an engine construction takes 3.7 s cold, then 0.3-0.4 s for a
    # few more while the JIT catches up, then 0.2-0.3 s; a median of 9
    # lands in the settled range
    setup_reps = 9
    warm_cycles = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng(10)

    def prepare(self) -> None:
        rng = self.ctx.rng(11)
        self.bulk = [
            datagen.lineitem(rng, BULK_ROWS, BULK_ROWS // 4, 20_000, 1_000,
                             name=BULK_TABLE)
            for _ in range(2)
        ]
        self.bulk_payloads = [t.csv_bytes() for t in self.bulk]
        self.bulk_cols = sink_columns(self.bulk[0])
        self.small_cols = sink_columns(datagen.small_push(rng, "x", 1, False))

    def setup(self) -> None:
        """A client's connect: engine construction over the warehouse
        (catalog rehydrate and connection probe)."""
        self.engine = self.ctx.new_engine()
        self.sink = self.engine.csv_create_sink()

    def _push(self, name: str, cols, source) -> str:
        return self.sink.consume("/" + name, cols, source)

    def _push_chunks(self, payload: bytes) -> str:
        return self._push(BULK_TABLE, self.bulk_cols, datagen.chunks(payload))

    def _observe(self, table) -> tuple[int, int]:
        df = self.sink.table(table.name)
        return datagen.spark_content_hashes({table.name: (df, table.columns)})[table.name]

    def next_cycle(self) -> list[Op]:
        order = self.rng.permutation(POOL).tolist()
        multiline = set(self.rng.choice(POOL, MULTILINE_PER_CYCLE, replace=False).tolist())
        ops = []
        for i in order:
            n_rows = int(round(10 ** self.rng.uniform(1, 3)))
            table = datagen.small_push(self.rng, f"pool_{i}", n_rows, i in multiline)
            payload = table.csv_bytes()
            ops.append(Op(
                "push_small", "multiline" if i in multiline else "plain",
                functools.partial(self._push, table.name, self.small_cols, payload),
                {"table": table, "user_bytes": len(payload)},
                functools.partial(self._observe, table),
            ))
        for turn in (0, 1):
            ops.insert(int(self.rng.integers(0, len(ops) + 1)), Op(
                "push_bulk", "lineitem",
                functools.partial(self._push_chunks, self.bulk_payloads[turn]),
                {"table": self.bulk[turn], "user_bytes": len(self.bulk_payloads[turn])},
                functools.partial(self._observe, self.bulk[turn]),
            ))
        return ops

    def check(self, records) -> dict:
        bad, want = {}, {}
        for r in records:
            if not r.ok:
                continue
            table = r.info["table"]
            if id(table) not in want:  # the bulk payloads repeat
                want[id(table)] = table.content_hash()
            if not isinstance(r.result, str) or not r.result:
                bad[r.op_id] = f"consume returned {r.result!r}"
            elif r.info["observed"] != want[id(table)]:
                bad[r.op_id] = (f"{table.name}: (rows, crc sum) {r.info['observed']} "
                                f"!= pushed {want[id(table)]}")
        return bad

    def named_metrics(self, records) -> dict:
        out = {}
        for q in (50, 90):
            v, n = class_percentile_ms(records, "push_small", q)
            out[f"push_small_p{q}_ms"] = (v, "ms", n)
        rates = [
            r.info["user_bytes"] / 1e6 / (r.ms / 1000.0)
            for r in records if r.cls == "push_bulk" and r.ok
        ]
        out["push_bulk_mb_per_s"] = (
            stats.median(rates) if rates else None, "MB/s", len(rates)
        )
        return out
