"""CodeRAG benchmark: seeded workloads over the engine's public entry points."""
