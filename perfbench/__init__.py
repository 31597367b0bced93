"""Repository benchmark: CDC routing, bulk pub/sub and oracle-checked batch
operators. Entry point: ``python3 perfbench/run.py --workload <name>``."""
