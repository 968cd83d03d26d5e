"""The Spark operators of the production path: MinHash dedup and
components, the language guess, curation, crawl diffing and lineage."""
