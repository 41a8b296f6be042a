"""The repository's benchmark: seeded workloads over ``joern_spark``,
output checks, and a traced run that folds the Spark event log by layer.
Run it with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see README.md."""
