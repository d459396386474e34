"""Serving and analytics benchmark for the egraphdb Spark engine.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed N
--seconds S --trace 0|1``; see ``perfbench/README.md``.
"""
