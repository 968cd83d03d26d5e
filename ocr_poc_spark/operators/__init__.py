"""Spark operator library: dedup, similarity search, text stats, curation,
crawl diffing and lineage."""
