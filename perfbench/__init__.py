"""The repository benchmark: workloads, measurement and checks (see run.py)."""
