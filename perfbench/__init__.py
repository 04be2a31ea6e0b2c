"""kgflow benchmark: workloads, tracing and Spark counters (see README.md)."""
