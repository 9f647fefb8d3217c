"""fuzzylink-spark benchmark: workloads, checks and tracing (run with ``python3 perfbench/run.py``)."""
