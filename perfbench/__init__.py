"""scarf_spark benchmark: seeded workloads, checks and per-layer tracing."""
