"""Repository benchmark: seeded workloads, end-to-end metrics, per-layer trace.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md`` for the workloads and the metric → layer map.
"""
