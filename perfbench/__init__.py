"""jpspark benchmark: workloads, tracing and the closed-loop runner (see run.py)."""
