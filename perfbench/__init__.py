"""Repository benchmark: closed-loop workloads over the engine (see README.md)."""
