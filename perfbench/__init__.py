"""Crawl-engine benchmark: workloads, tracing and output checks (see run.py)."""
