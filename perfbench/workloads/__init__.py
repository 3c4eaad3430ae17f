"""The workloads. Each one is a closed loop with one client.

A workload object is built with a :class:`Context` and provides:

* ``prepare()`` — generate its inputs from the seed (not timed);
* ``setup()`` — build the serving state through the package (timed,
  repeated ``setup_reps`` times; ``setup_s`` is the median);
* ``next_cycle()`` — the next cycle of :class:`~perfbench.harness.Op`;
* ``warm_cycles`` — how many untimed cycles run before the measured ones;
* ``check(records)`` — verify every recorded result after the loop,
  returning ``{op_id: error}``;
* ``named_metrics(records)`` — this workload's named end-to-end metrics;
* ``light`` / ``heavy`` — the op classes behind ``light_op_ms`` and
  ``heavy_op_ms``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


@dataclass
class Context:
    spark: object
    root: str  # checkout root
    work: str  # this run's scratch directory (inside the checkout)
    warehouse: str
    cores: int
    seed: int

    def rng(self, purpose: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, purpose])

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def new_engine(self):
        from quasar_destination_h2_spark import Engine

        return Engine.from_config({"connectionUri": self.warehouse}, spark=self.spark)


def sink_columns(table) -> list:
    """Quasar ``Column`` list for a generated :class:`~perfbench.datagen.Table`."""
    from quasar_destination_h2_spark.types import Column, ColumnType

    return [Column(name, ColumnType(kind)) for name, kind in table.columns]


def get(name: str):
    if name == "ingest":
        from .ingest import Ingest as cls
    elif name == "sql_read":
        from .sql_read import SqlRead as cls
    elif name == "sql_write":
        from .sql_write import SqlWrite as cls
    elif name == "ext_serve":
        from .ext_serve import ExtServe as cls
    else:
        raise ValueError(f"unknown workload {name!r}")
    return cls

