"""The repository benchmark: seeded workloads that drive the engine's public
functions the way the platform's users do. Run it with ``python3
perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``; see
``perfbench/README.md``."""
