"""The repository benchmark: three closed-loop workloads over the library's public API."""
