"""Engine benchmark: workloads, tracing and statistics (see README.md)."""
