#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. One client in this process drives the
package through its public entry points on a ``local[N]`` Spark session
(N = usable cores), in a closed loop: set-up (repeated where the run
budget allows, median reported as ``setup_s``), the workload's untimed
warm-up cycles, then ``--seconds`` of whole cycles (at least one).
Every result is checked outside the timed spans. Workloads: ingest,
sql_read, ext_serve (the ones BENCHMARK.json lists) and sql_write,
runnable by hand (see ``perfbench/workloads``).

End-to-end metrics (``--trace 0``), the same names on every workload:

* ``setup_s`` — median set-up time (loads through the sink, index builds);
* ``ops_per_s`` — operations completed per second of the measured loop;
* ``light_op_ms`` / ``heavy_op_ms`` — geometric mean over templates of
  each template's median latency, for the workload's light and heavy
  op class: ingest small / bulk pushes, sql_read lookups / analytic
  queries, ext_serve probes / registered entries (sql_write, runnable
  by hand: DDL / writes);
* ``peak_rss_mb`` — summed peak RSS of this process, the JVM and the
  Python workers.

Before the result line each workload also prints its own named
metrics (``push_small_p50_ms``, ``lookup_p90_ms``, ...); a p90 is shown
only when at least ten samples lie beyond it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also runs a
traced phase of the same length after the untraced one and prints the
per-layer metrics (see ``perfbench/layers.py``), writing the spans to
``.perfbench_traces/``. The last stdout line is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. Inputs
are generated from ``--seed``; all files are written under the
checkout (``.perfbench_work/``, removed at exit).

Exits 2 without a result when the package sources are not beside
this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("quasar_destination_h2_spark/__init__.py", "tools/oracle_check.py")
WORKLOADS = ("ingest", "sql_read", "sql_write", "ext_serve")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory_mb() -> int:
    """A quarter of physical memory, between 512 MiB and 1 GiB. The
    inputs are a few MB; a heap far above need makes peak RSS follow GC
    timing (on a 4-core, 15 GB VM peak RSS moved by up to a tenth
    between runs with a 2 GiB heap and by 3% with 1 GiB)."""
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(512, min(1024, total_kb // 1024 // 4))


def start_spark(work: str, warehouse: str, cores: int):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import the package (the Arrow UDF paths), so the
    # checkout must be on their path; temp files stay in the checkout
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYTHONPATH"] = pythonpath
    os.environ["TMPDIR"] = tmp
    # glibc's per-thread malloc arenas made the JVM's native memory, and
    # so peak RSS, differ between runs (same seed: JVM 774-921 MB; with
    # two arenas 697-750 MB)
    os.environ["MALLOC_ARENA_MAX"] = "2"
    tempfile.tempdir = tmp

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    # task failures on the multiLine fallback path are expected traffic
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _children() -> dict:
    out: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    process it started: the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def run(args, work: str) -> dict:
    from perfbench import harness, layers, stats, trace, workloads

    cores = usable_cores()
    warehouse = os.path.join(work, "warehouse")
    marks = [("start", time.perf_counter())]
    spark = start_spark(work, warehouse, cores)
    try:
        marks.append(("boot", time.perf_counter()))
        ctx = workloads.Context(spark, ROOT, work, warehouse, cores, args.seed)
        wl = workloads.get(args.workload)(ctx)
        wl.prepare()
        marks.append(("prepare", time.perf_counter()))
        setup_times = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)

        tracer = trace.Tracer(spark, warehouse) if args.trace else None
        null = trace.NullTracer()
        loop = harness.Loop(lambda phase: null if phase == "measure" or tracer is None else tracer)
        marks.append(("setup", time.perf_counter()))
        for _ in range(wl.warm_cycles):
            loop.run_phase(wl.next_cycle, "warm", 0)
        marks.append(("warm", time.perf_counter()))
        measure_s = loop.run_phase(wl.next_cycle, "measure", args.seconds)
        marks.append(("measure", time.perf_counter()))
        rss = peak_rss_mb()
        traced_s = 0.0
        if tracer is not None:
            traced_s = loop.run_phase(wl.next_cycle, "traced", args.seconds)
            tracer.close()
            marks.append(("traced", time.perf_counter()))

        bad = wl.check(loop.records)
        marks.append(("check", time.perf_counter()))
        print("perfbench: phase seconds " + " ".join(
            f"{b[0]}={b[1] - a[1]:.1f}" for a, b in zip(marks, marks[1:])
        ), file=sys.stderr)
        for r in loop.records:
            if r.error is not None:
                bad.setdefault(r.op_id, r.error)
            failed = f" FAILED: {bad[r.op_id]}" if r.op_id in bad else ""
            print(f"perfbench: op {r.op_id} {r.phase} {r.cls}:{r.template} "
                  f"{r.ms:.1f} ms{failed}", file=sys.stderr)

        reported = "traced" if args.trace else "measure"
        done = loop.phase(reported)
        measured = loop.phase("measure")
        ops_per_s = len(measured) / measure_s
        if args.trace:
            metrics = layers.compute(
                done, loop.phase("warm"), tracer, cores, ops_per_s,
                len(done) / traced_s,
            )
            units = dict(layers.METRICS)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"
            ))
        else:
            light = harness.template_geomean_ms(measured, wl.light)
            heavy = harness.template_geomean_ms(measured, wl.heavy)
            metrics = {
                "setup_s": stats.median(setup_times),
                "ops_per_s": ops_per_s,
                "light_op_ms": light,
                "heavy_op_ms": heavy,
                "peak_rss_mb": rss,
            }
            units = {"setup_s": "s", "ops_per_s": "ops/s", "light_op_ms": "ms",
                     "heavy_op_ms": "ms", "peak_rss_mb": "MB"}
            for name, (value, unit, n) in wl.named_metrics(measured).items():
                shown = "n/a (too few samples)" if value is None else f"{value:.4g} {unit}"
                print(f"perfbench: {args.workload} {name} = {shown} (n={n})")
        missing = [k for k, v in metrics.items() if v is None]
        for k in missing:
            metrics[k] = 0.0
        correct = not bad and not missing
        return {
            "correct": correct,
            "attempted": len(done),
            "failed": sum(1 for r in done if r.op_id in bad),
            "metrics": {
                k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
            },
        }
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the package (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
