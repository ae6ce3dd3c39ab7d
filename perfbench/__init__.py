"""The repository benchmark: seeded workloads, end-to-end metrics and a
traced run that splits time over the package's modules and Spark's layers.
Run ``python3 perfbench/run.py --help``; README.md explains the workloads."""
