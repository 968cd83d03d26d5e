"""Host derivation shared by the crawl and curation operators."""

from __future__ import annotations

import pyspark.sql.functions as F


def host_of():
    """Host of the `url` column (regexp — portable to the DuckDB oracle,
    unlike parse_url)."""
    return F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
