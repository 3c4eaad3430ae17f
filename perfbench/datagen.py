"""Seeded input generation.

Every input the benchmark hands the package comes from here, drawn
from one ``numpy.random.Generator`` per purpose, so the same seed gives
the same bytes. Two shapes are produced:

* :class:`Table` — string-valued rows with Quasar column types, the
  form a client pushes through the CSV sink. It renders the wire
  format (headerless, ``\\r\\n``, minimal quoting, empty field = NULL)
  and the content hash the ingest check compares against.
* Arrow tables with the fixture layout the registered plans read
  (``<dir>/<table>.parquet``), written by :func:`write_parquet_dir`.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import zlib
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np

NUMBER, STRING, DATE, BOOLEAN = "Number", "String", "LocalDate", "Boolean"

#: NULL marker in the canonical row rendering the content hash covers
NULL = "\\N"
#: field separator of the canonical row rendering
SEP = "\x01"


@dataclass
class Table:
    name: str
    columns: list  # [(column name, Quasar type name)]
    rows: list  # [tuple of str | None]

    def csv_bytes(self) -> bytes:
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\r\n").writerows(self.rows)
        return buf.getvalue().encode("utf-8")

    def content_hash(self) -> tuple[int, int]:
        """(row count, sum of CRC-32 over each canonical row) —
        order-insensitive, content-sensitive. The Spark side computes
        the same from the loaded table (see :func:`spark_content_hashes`)."""
        cols = [
            _canon_column(values, kind)
            for values, (_, kind) in zip(zip(*self.rows), self.columns)
        ]
        crc = zlib.crc32
        total = sum(crc(SEP.join(t).encode("utf-8")) for t in zip(*cols))
        return len(self.rows), total


def chunks(data: bytes, size: int = 1 << 20) -> Iterator[bytes]:
    """A wire payload as an iterator of ``size``-byte chunks."""
    return (data[i:i + size] for i in range(0, len(data), size))


def _canon_column(values: list, kind: str) -> list[str]:
    if kind == NUMBER:
        return [NULL if v is None else str(_cents(v)) for v in values]
    if kind == BOOLEAN:
        return [NULL if v is None else v.lower() for v in values]
    return [NULL if v is None else v for v in values]


def _cents(text: str) -> int:
    """Integer hundredths of a decimal string with at most two
    fraction digits."""
    neg = text.startswith("-")
    whole, _, frac = text.lstrip("-").partition(".")
    if len(frac) > 2:
        raise ValueError(f"more than two fraction digits: {text!r}")
    v = int(whole or "0") * 100 + int((frac + "00")[:2])
    return -v if neg else v


def spark_content_hashes(tables: dict) -> dict:
    """The Spark-side twin of :meth:`Table.content_hash` for each
    ``{name: (DataFrame, columns)}``, in one action."""
    from functools import reduce

    from pyspark.sql import functions as F

    aggs = []
    for name, (df, columns) in tables.items():
        parts = []
        for col, kind in columns:
            c = F.col(f"`{col}`")
            if kind == NUMBER:
                c = (c * 100).cast("decimal(38,0)")
            parts.append(F.coalesce(c.cast("string"), F.lit(NULL)))
        crc = F.crc32(F.concat_ws(SEP, *parts).cast("binary"))
        aggs.append(df.agg(F.lit(name).alias("t"), F.count(F.lit(1)).alias("n"),
                           F.sum(crc).alias("s")))
    rows = reduce(lambda a, b: a.unionAll(b), aggs).collect()
    return {r["t"]: (int(r["n"]), int(r["s"] or 0)) for r in rows}


def _money(rng, n, lo, hi) -> list[str]:
    cents = rng.integers(int(lo * 100), int(hi * 100), size=n)
    return [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]


def _ints(values) -> list[str]:
    return [str(v) for v in np.asarray(values).tolist()]


def _dates(rng, n, start: dt.date, days: int) -> list[str]:
    offs = rng.integers(0, days, size=n).tolist()
    return [(start + dt.timedelta(days=o)).isoformat() for o in offs]


def _pick(rng, choices: Sequence[str], n: int) -> list[str]:
    idx = rng.integers(0, len(choices), size=n).tolist()
    return [choices[i] for i in idx]


SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_WORDS = ("small", "red", "steel", "ring", "widget", "bolt", "blue", "large")
PART_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM")


def tpch(seed: int, sf: float) -> dict[str, Table]:
    """TPC-H-shaped tables (the fixture's column names) as pushable
    string rows; ``sf`` scales the row counts like TPC-H's factor."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_line = int(6_000_000 * sf)
    tables = {}
    tables["region"] = Table(
        "region", [("r_regionkey", NUMBER), ("r_name", STRING)],
        [(str(i), r) for i, r in enumerate(REGIONS)],
    )
    tables["nation"] = Table(
        "nation",
        [("n_nationkey", NUMBER), ("n_name", STRING), ("n_regionkey", NUMBER)],
        [(str(i), f"NATION_{i}", str(i % 5)) for i in range(25)],
    )
    ck = np.arange(n_cust)
    tables["customer"] = Table(
        "customer",
        [("c_custkey", NUMBER), ("c_name", STRING), ("c_nationkey", NUMBER),
         ("c_acctbal", NUMBER), ("c_mktsegment", STRING)],
        list(zip(
            _ints(ck), [f"Customer#{k:09d}" for k in ck.tolist()],
            _ints(rng.integers(0, 25, n_cust)), _money(rng, n_cust, -999, 9999),
            _pick(rng, SEGMENTS, n_cust),
        )),
    )
    sk = np.arange(n_supp)
    tables["supplier"] = Table(
        "supplier",
        [("s_suppkey", NUMBER), ("s_name", STRING), ("s_nationkey", NUMBER),
         ("s_acctbal", NUMBER)],
        list(zip(
            _ints(sk), [f"Supplier#{k:09d}" for k in sk.tolist()],
            _ints(rng.integers(0, 25, n_supp)), _money(rng, n_supp, -999, 9999),
        )),
    )
    pk = np.arange(n_part)
    w1, w2 = _pick(rng, PART_WORDS, n_part), _pick(rng, PART_WORDS, n_part)
    tables["part"] = Table(
        "part",
        [("p_partkey", NUMBER), ("p_name", STRING), ("p_brand", STRING),
         ("p_type", STRING), ("p_size", NUMBER), ("p_retailprice", NUMBER)],
        list(zip(
            _ints(pk), [f"{a} {b}" for a, b in zip(w1, w2)],
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
            _pick(rng, PART_TYPES, n_part), _ints(rng.integers(1, 51, n_part)),
            _money(rng, n_part, 900, 2000),
        )),
    )
    ok = np.arange(n_ord)
    tables["orders"] = Table(
        "orders",
        [("o_orderkey", NUMBER), ("o_custkey", NUMBER), ("o_orderstatus", STRING),
         ("o_totalprice", NUMBER), ("o_orderdate", DATE),
         ("o_orderpriority", STRING)],
        list(zip(
            _ints(ok), _ints(rng.integers(0, n_cust, n_ord)),
            _pick(rng, ("F", "O", "P"), n_ord), _money(rng, n_ord, 1000, 500_000),
            _dates(rng, n_ord, dt.date(1992, 1, 1), 2400),
            _pick(rng, PRIORITIES, n_ord),
        )),
    )
    tables["lineitem"] = lineitem(rng, n_line, n_ord, n_part, n_supp)
    return tables


LINEITEM_COLUMNS = [
    ("l_orderkey", NUMBER), ("l_partkey", NUMBER), ("l_suppkey", NUMBER),
    ("l_linenumber", NUMBER), ("l_quantity", NUMBER),
    ("l_extendedprice", NUMBER), ("l_discount", NUMBER), ("l_tax", NUMBER),
    ("l_returnflag", STRING), ("l_linestatus", STRING), ("l_shipdate", DATE),
]


def lineitem(rng, n: int, n_ord: int, n_part: int, n_supp: int,
             name: str = "lineitem") -> Table:
    qty = rng.integers(1, 51, n)
    price_cents = qty * rng.integers(90_000, 200_000, n)
    return Table(name, list(LINEITEM_COLUMNS), list(zip(
        _ints(rng.integers(0, n_ord, n)), _ints(rng.integers(0, n_part, n)),
        _ints(rng.integers(0, n_supp, n)), _ints(rng.integers(1, 8, n)),
        _ints(qty),
        [f"{c // 100}.{c % 100:02d}" for c in price_cents.tolist()],
        [f"0.{d:02d}" for d in rng.integers(0, 11, n).tolist()],
        [f"0.{d:02d}" for d in rng.integers(0, 9, n).tolist()],
        _pick(rng, ("A", "N", "R"), n), _pick(rng, ("F", "O"), n),
        _dates(rng, n, dt.date(1992, 1, 2), 2500),
    )))


SMALL_COLUMNS = [
    ("id", NUMBER), ("name", STRING), ("amount", NUMBER), ("day", DATE),
    ("flag", BOOLEAN), ("note", STRING),
]
NOTE_WORDS = ("alpha", "beta", "gamma", "delta", "x,y", 'say "hi"', "z")


def small_push(rng, name: str, n_rows: int, multiline: bool) -> Table:
    """One client push of ``n_rows`` typed rows. Notes carry commas
    and quotes (minimal quoting); when ``multiline`` some notes carry
    an embedded newline, which sends the load down the multiLine
    fallback."""
    notes = [
        " ".join(_pick(rng, NOTE_WORDS, 3)) for _ in range(n_rows)
    ]
    if multiline:
        for i in rng.choice(n_rows, size=max(1, n_rows // 20), replace=False):
            notes[int(i)] = notes[int(i)].replace(" ", "\n", 1)
    nulls = rng.random(n_rows) < 0.05
    amounts = _money(rng, n_rows, -5000, 5000)
    rows = []
    for i, (nm, amt, day, flag, note) in enumerate(zip(
        [f"item-{k}" for k in rng.integers(0, 10**6, n_rows).tolist()],
        amounts, _dates(rng, n_rows, dt.date(2020, 1, 1), 1500),
        _pick(rng, ("true", "false"), n_rows), notes,
    )):
        rows.append((
            str(i), nm, None if nulls[i] else amt, day, flag,
            None if nulls[(i + 1) % n_rows] else note,
        ))
    return Table(name, list(SMALL_COLUMNS), rows)


# ---- parquet fixture layout for the registered [EXT] plans ------------

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
#: embedding width; the last RESERVED_DIMS coordinates are zero in every
#: generated corpus or query vector and carry appended vectors only
DIM, RESERVED_DIMS = 64, 4


def embeddings(rng, n: int, clusters: int = 10) -> np.ndarray:
    centers = rng.normal(size=(clusters, DIM - RESERVED_DIMS))
    labels = rng.integers(0, clusters, n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, DIM - RESERVED_DIMS))
    vecs = np.hstack([vecs, np.zeros((n, RESERVED_DIMS))])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def orthogonal_vectors(rng, n: int) -> np.ndarray:
    """Unit vectors living only in the reserved coordinates: cosine 0
    against every corpus and query vector, so appending them to an
    index cannot change any probe's top-k."""
    vecs = np.zeros((n, DIM), dtype=np.float64)
    vecs[:, DIM - RESERVED_DIMS:] = rng.normal(size=(n, RESERVED_DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32)


def documents(rng, n: int) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars); every 20th document is a
    one-word edit of an earlier one, so dedup has work to do."""
    texts = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_pick(rng, VOCAB, int(rng.integers(8, 90)))))
    langs = _pick(rng, ("en", "en", "fr", "es", "zh", "de"), n)
    return [
        (i, t, lang, f"src{i % 20}", len(t))
        for i, (t, lang) in enumerate(zip(texts, langs))
    ]


def fixture_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """Arrow tables in the fixture layout (types as the plans expect)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    out = {}
    int32_cols = {"n_nationkey", "n_regionkey", "r_regionkey", "c_nationkey",
                  "s_nationkey", "p_size", "l_linenumber"}
    for name, t in tpch(seed, sf).items():
        cols = {}
        for j, (cname, kind) in enumerate(t.columns):
            vals = [r[j] for r in t.rows]
            if kind == NUMBER:
                if any("." in v for v in vals[:50]):
                    cols[cname] = pa.array([float(v) for v in vals], pa.float64())
                else:
                    ty = pa.int32() if cname in int32_cols else pa.int64()
                    cols[cname] = pa.array([int(v) for v in vals], ty)
            elif kind == DATE:
                cols[cname] = pa.array(
                    [dt.datetime.fromisoformat(v) for v in vals], pa.timestamp("us")
                )
            else:
                cols[cname] = pa.array(vals, pa.string())
        out[name] = pa.table(cols)
    docs = documents(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([d[2] for d in docs], pa.string()),
        "source": pa.array([d[3] for d in docs], pa.string()),
        "n_chars": pa.array([d[4] for d in docs], pa.int64()),
    })
    vecs, labels = embeddings(rng, n_vecs)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    n_ev = n_docs * 2
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array(
            _pick(rng, ("signup", "error", "click", "view", "purchase"), n_ev)
        ),
        "value": pa.array(rng.integers(0, 50_000, n_ev) / 100.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
    })
    return out


def write_parquet_dir(tables: dict, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
