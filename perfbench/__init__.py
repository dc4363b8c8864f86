"""Crawl-pipeline benchmark: seeded workloads, checks and tracing."""
