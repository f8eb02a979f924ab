"""Crawler benchmark: workloads, tracing and event-log parsing (see README.md)."""
