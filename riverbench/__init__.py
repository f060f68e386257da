"""River benchmark: seeded workloads, untraced and traced runs (see run.py)."""
