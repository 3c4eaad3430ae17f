"""``ext_serve``: the [EXT] serving surface.

Set-up builds an IVF index over the embeddings and a BM25 text index
over the documents, through the ``Engine`` index lifecycle, once per
run: a build is about 40 Spark jobs, 20 s cold and 7 s warm, and two
more would not fit the run budget.
A cycle then runs, in seeded order:

* probes — ``ann_topk`` and ``text_search``, each over every batch of
  its seeded probe pool (5 queries a batch; text queries have 2 terms);
* one ``append_to_ivf_index`` of a seeded batch of vectors that lie in
  coordinates no corpus or probe vector uses (cosine 0), so appends
  cannot change any probe's top-k;
* registered [EXT] entries run whole (``plans.all_queries()``), each
  twice, over the same generated fixture files.

The mix is chosen, not observed traffic: two batches per probe kind
give each probe template two samples a cycle, one small append keeps
the index near its built size, and each listed entry runs twice, so
its median has two samples.

The warm-up cycle runs right after the build and probes every pool
batch before anything else; those results are the reference every
later probe of the same batch must reproduce exactly.

Check: probes equal the reference; each append reports its batch size;
entries equal ``plans.all_oracles()`` run by DuckDB over the same
parquet files, normalized and compared by ``tools/oracle_check``.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import numpy as np

from .. import datagen, stats
from ..harness import Op, class_percentile_ms

#: registered entries run whole, in every cycle. ``dedup_keep_best`` is
#: left out: on about one generated fixture in five (9 of seeds 1-40) a
#: document's ``quality`` lies on a rounding tie at the 6th decimal, and
#: the engine and its DuckDB oracle round it to different sides.
ENTRIES = ("sequence_pack", "udf_zscore_by_source")
ENTRY_REPS = 2
N_DOCS = N_VECS = 500
FIXTURE_SF = 0.001
POOL = 2  # probe batches per probe kind
QUERIES_PER_BATCH = 5
APPEND_ROWS = 20
TERMS_PER_QUERY = 2


def _oracle_check(root: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows(df) -> list[tuple]:
    """Result rows, floats to 6 places, sorted."""
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


class ExtServe:
    name = "ext_serve"
    light, heavy = "probe", "entry"
    setup_reps = 1
    warm_cycles = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng(40)
        self._appended = 0

    def prepare(self) -> None:
        from quasar_destination_h2_spark import plans

        self.fixture = os.path.join(self.ctx.work, "fixture")
        tables = datagen.fixture_tables(self.ctx.seed, FIXTURE_SF, N_DOCS, N_VECS)
        datagen.write_parquet_dir(tables, self.fixture)
        self.queries = plans.all_queries()
        spark = self.ctx.spark
        rng = self.ctx.rng(41)
        vecs = np.array(tables["embeddings"].column("embedding").to_pylist())
        ann_rows, text_rows = [], []
        for b in range(POOL):
            ids = rng.choice(N_VECS, QUERIES_PER_BATCH, replace=False)
            q = vecs[ids] + 0.05 * rng.normal(size=(QUERIES_PER_BATCH, vecs.shape[1]))
            q[:, datagen.DIM - datagen.RESERVED_DIMS:] = 0.0
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            ann_rows.append([(i, [float(x) for x in v]) for i, v in enumerate(q)])
            text_rows.append([
                (i, term)
                for i in range(QUERIES_PER_BATCH)
                for term in rng.choice(datagen.VOCAB, TERMS_PER_QUERY, replace=False).tolist()
            ])
        schemas = {"ann": "query_id bigint, qv array<double>",
                   "text": "query_id bigint, term string"}
        self.batches = {
            kind: [spark.createDataFrame(r, schemas[kind]) for r in per_batch]
            for kind, per_batch in (("ann", ann_rows), ("text", text_rows))
        }

    def setup(self) -> None:
        from quasar_destination_h2_spark.sources.tables import load_table

        spark, nb = self.ctx.spark, self.ctx.cores
        self.engine = self.ctx.new_engine()
        emb = load_table(spark, self.fixture, "embeddings")
        docs = load_table(spark, self.fixture, "documents").select("doc_id", "text")
        # bucket counts match the session's shuffle partitions, as the
        # engine's docs ask, so probes read co-located buckets
        self.engine.build_ivf_index("perf_ann", emb, kmeans_iters=1, n_buckets=nb)
        self.engine.build_text_index("perf_text", docs, n_buckets=nb)

    # ---- ops -------------------------------------------------------------

    def _probe(self, kind: str, batch: int):
        q = self.batches[kind][batch]
        if kind == "ann":
            return _rows(self.engine.ann_topk("perf_ann", q))
        return _rows(self.engine.text_search("perf_text", q))

    def _append_batch(self, n: int):
        vecs = datagen.orthogonal_vectors(self.rng, APPEND_ROWS)
        rows = [(1_000_000 + n * APPEND_ROWS + i, [float(x) for x in v])
                for i, v in enumerate(vecs)]
        return self.ctx.spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    def _append(self, batch):
        report = self.engine.append_to_ivf_index("perf_ann", batch, n_buckets=self.ctx.cores)
        return [tuple(r) for r in report.collect()]

    def _entry(self, name: str):
        from quasar_destination_h2_spark import cache

        try:
            return self.queries[name](self.ctx.spark, self.fixture).toPandas()
        finally:
            cache.release()

    def next_cycle(self) -> list[Op]:
        n = self._appended
        self._appended += 1
        ops = [
            Op("probe", kind, functools.partial(self._probe, kind, b),
               {"batch": (kind, b)})
            for b in range(POOL) for kind in ("ann", "text")
        ]
        ops.append(Op("append", "ivf",
                      functools.partial(self._append, self._append_batch(n)),
                      {"rows": APPEND_ROWS}))
        ops += [Op("entry", e, functools.partial(self._entry, e), {})
                for e in ENTRIES for _ in range(ENTRY_REPS)]
        if n == 0:
            return ops  # the warm-up cycle: probes first, right after the build
        order = self.rng.permutation(len(ops)).tolist()
        return [ops[i] for i in order]

    # ---- check -----------------------------------------------------------

    def check(self, records) -> dict:
        from quasar_destination_h2_spark.plans import all_oracles

        oc = _oracle_check(self.ctx.root)
        oracles = all_oracles()
        con = oc.duck_conn(self.fixture)
        expected = {e: con.execute(oracles[e]).df() for e in ENTRIES}
        con.close()
        bad, reference = {}, {}
        for r in sorted(records, key=lambda r: r.op_id):
            if not r.ok:
                continue
            if r.cls == "probe":
                key = r.info["batch"]
                r.info["rows_out"] = len(r.result)
                if key not in reference:
                    reference[key] = r.result  # the warm-up probe, after the build
                elif r.result != reference[key]:
                    bad[r.op_id] = f"probe {key} differs from the post-build result"
            elif r.cls == "append":
                if not r.result or r.result[0][0] != r.info["rows"]:
                    bad[r.op_id] = f"append report {r.result}"
            else:
                r.info["rows_out"] = len(r.result)
                errs = oc.compare(r.template, r.result, expected[r.template])
                if errs:
                    bad[r.op_id] = f"{r.template}: {errs[:2]}"
        return bad

    def named_metrics(self, records) -> dict:
        out = {}
        for q in (50, 90):
            v, n = class_percentile_ms(records, "probe", q)
            out[f"probe_p{q}_ms"] = (v, "ms", n)
        per_entry: dict = {}
        for r in records:
            if r.cls == "entry" and r.ok:
                per_entry.setdefault(r.template, []).append(r.ms / 1000.0)
        out["ext_entry_geomean_s"] = (
            stats.geomean([stats.median(v) for v in per_entry.values()])
            if per_entry else None, "s", sum(len(v) for v in per_entry.values()),
        )
        return out
