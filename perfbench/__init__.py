"""Engine benchmark: seeded workloads, closed-loop client, traced per-layer run."""
