"""chug_spark benchmark: ``python3 perfbench/run.py --workload <name> ...``."""
