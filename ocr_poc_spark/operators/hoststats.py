"""Host derivation shared by the crawl and curation operators."""

from __future__ import annotations

import pyspark.sql.functions as F


def host_of(url_col: str = "url"):
    """Host from a url (regexp — portable to the DuckDB oracle, unlike
    parse_url)."""
    return F.regexp_extract(F.col(url_col), r"^https?://([^/]+)", 1)
