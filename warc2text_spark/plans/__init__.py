"""Logical plan assembly: end-to-end pipelines, metrics, the query registry."""
