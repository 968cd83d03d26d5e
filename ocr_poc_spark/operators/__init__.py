"""Spark operator library: dedup, similarity search, text stats, curation,
crawl diffing, lineage and multimodal plumbing."""
