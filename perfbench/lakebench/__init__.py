"""Lake benchmark: seeded inputs, workloads, tracing and the run loop."""
