"""End-to-end and per-layer benchmark of the CSV load sink, the H2
statement front door and the [EXT] index-serving surface.

Run from the repository root::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

See ``run.py`` for the workloads and the printed metrics.
"""
