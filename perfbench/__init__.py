"""The repository's benchmark: seeded inputs, oracle-checked workloads,
end-to-end and per-layer metrics. Entry point: ``perfbench/run.py``."""
