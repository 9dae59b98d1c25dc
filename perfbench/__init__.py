"""Seeded end-to-end and per-layer benchmark of the CDC engine.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_pipeline --seed 1 --seconds 12 --trace 0

See ``run.py`` for the workloads and the metrics each one reports."""
