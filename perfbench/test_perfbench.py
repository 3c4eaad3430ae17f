"""Tests of the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pytest

from perfbench import datagen, harness, stats, trace
from perfbench.workloads import Context, ingest, sql_read

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---- percentile / geomean / spread ---------------------------------------

@pytest.mark.parametrize("q", [0, 10, 25, 50, 75, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_small_cases():
    assert stats.percentile([7.0], 90) == 7.0
    assert stats.median([1.0, 3.0]) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    assert stats.geomean([5.0]) == pytest.approx(5.0)
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            stats.geomean(bad)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile_ok(100, 90)
    assert not stats.tail_percentile_ok(99, 90)
    assert stats.tail_percentile_ok(20, 50)


def _rec(cls, template, ms, error=None):
    return harness.Record(0, "measure", cls, template, 0.0, ms / 1000.0, 0.0,
                          None, error, {})


def test_template_geomean_and_class_percentile():
    recs = [_rec("a", "x", 10), _rec("a", "x", 30), _rec("a", "x", 20),
            _rec("a", "y", 40), _rec("a", "y", 40, error="boom"), _rec("b", "z", 1)]
    # medians: x = 20, y = 40 (the failed sample is excluded)
    assert harness.template_geomean_ms(recs, "a") == pytest.approx((20 * 40) ** 0.5)
    assert harness.template_geomean_ms(recs, "c") is None
    v, n = harness.class_percentile_ms(recs, "a", 50)
    assert (v, n) == (pytest.approx(25.0), 4)
    assert harness.class_percentile_ms(recs, "a", 90) == (None, 4)


def test_observe_runs_untimed_after_each_successful_op():
    def slow_observe():
        time.sleep(0.05)
        return "seen"

    def broken_observe():
        raise RuntimeError("gone")

    def fail():
        raise ValueError("boom")

    ops = [harness.Op("a", "ok", lambda: 1, {}, slow_observe),
           harness.Op("a", "bad", lambda: 2, {}, broken_observe),
           harness.Op("a", "raised", fail, {}, slow_observe)]
    loop = harness.Loop(lambda phase: trace.NullTracer())
    wall = loop.run_phase(lambda: ops, "measure", 0)
    ok, bad, raised = loop.records
    assert ok.ok and ok.info["observed"] == "seen" and ok.ms < 50
    assert bad.error == "observe: RuntimeError: gone"
    assert "observed" not in raised.info  # not observed after a failed call
    assert wall < 0.05  # the observe sleep is off the phase clock


def test_union_job_ms_merges_overlaps_and_clips():
    op = trace.OpTrace(jobs=[(1, 0.0, 1.0, "S"), (2, 0.5, 1.5, "S"), (3, 3.0, 4.0, "S")])
    assert op.union_job_ms(0.0, 10.0) == pytest.approx(2500.0)
    assert op.union_job_ms(0.25, 3.5) == pytest.approx(1750.0)
    assert op.job_wall_ms == pytest.approx(3000.0)


# ---- seeded inputs ---------------------------------------------------------

def test_content_hash_canonical_numbers():
    assert datagen._canon_column(
        ["0.05", "-0.50", "12", "-3", "100.10", None, "-0.00", "0", "7.5"],
        datagen.NUMBER,
    ) == ["5", "-50", "1200", "-300", "10010", datagen.NULL, "0", "0", "750"]


def test_wire_format_quotes_minimally():
    t = datagen.Table("t", [("a", datagen.STRING), ("b", datagen.NUMBER)],
                      [("x,y", "1"), ('say "hi"', None), ("two\nlines", "2.50")])
    assert t.csv_bytes() == b'"x,y",1\r\n"say ""hi""",\r\n"two\nlines",2.50\r\n'
    assert b"".join(datagen.chunks(t.csv_bytes(), 4)) == t.csv_bytes()


def test_generated_tables_repeat_per_seed():
    a, b, c = datagen.tpch(5, 0.001), datagen.tpch(5, 0.001), datagen.tpch(6, 0.001)
    assert {n: t.rows for n, t in a.items()} == {n: t.rows for n, t in b.items()}
    assert a["orders"].rows != c["orders"].rows
    assert a["lineitem"].content_hash() == b["lineitem"].content_hash()


def test_orthogonal_vectors_have_zero_cosine_with_corpus():
    rng = np.random.default_rng(1)
    vecs, _ = datagen.embeddings(rng, 50)
    extra = datagen.orthogonal_vectors(rng, 5)
    assert np.allclose(vecs @ extra.T, 0.0)
    assert np.allclose(np.linalg.norm(extra, axis=1), 1.0, atol=1e-6)


def _ctx(tmp_path, seed):
    work = tmp_path / f"s{seed}-{len(os.listdir(tmp_path))}"
    work.mkdir()
    return Context(None, ROOT, str(work), str(work / "wh"), 1, seed)


def _ingest_ops(ctx, cycles=2):
    wl = ingest.Ingest(ctx)
    wl.prepare()
    ops = [op for _ in range(cycles) for op in wl.next_cycle()]
    return [(o.cls, o.template, o.info["table"].name, o.info["table"].rows,
             o.info["user_bytes"]) for o in ops]


def _sql_read_ops(ctx, cycles=2):
    wl = sql_read.SqlRead(ctx)
    wl.prepare()
    return [(o.cls, o.template, o.info.get("sql"), o.info.get("table"))
            for _ in range(cycles) for o in wl.next_cycle()]


@pytest.mark.parametrize("ops_of", [_ingest_ops, _sql_read_ops])
def test_same_seed_gives_identical_op_sequence(tmp_path, monkeypatch, ops_of):
    monkeypatch.setattr(ingest, "BULK_ROWS", 200)
    first = ops_of(_ctx(tmp_path, 7))
    assert first == ops_of(_ctx(tmp_path, 7))
    assert first != ops_of(_ctx(tmp_path, 8))


def test_cycles_keep_the_class_mix(tmp_path, monkeypatch):
    monkeypatch.setattr(ingest, "BULK_ROWS", 200)
    for ops in (_ingest_ops(_ctx(tmp_path, 1), 1), _ingest_ops(_ctx(tmp_path, 2), 1)):
        templates = sorted(t for _, t, *_ in ops)
        assert templates == ["lineitem"] * 2 + ["multiline"] * 2 + ["plain"] * 6
