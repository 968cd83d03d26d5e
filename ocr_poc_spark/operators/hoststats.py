"""Host derivation shared by the crawl and curation operators."""

from __future__ import annotations

import pyspark.sql.functions as F


def host_of():
    """Lower-cased host of the `url` column, '' when it has none: scheme
    case-insensitive, userinfo and port stripped, cut at [/?#], so
    'HTTPS://user@A.example:8443/x' is 'a.example' (regexp — portable to
    the DuckDB oracle, unlike parse_url)."""
    return F.lower(
        F.regexp_extract(F.col("url"), r"(?i)^https?://(?:[^/@?#]*@)?([^/:?#]+)", 1)
    )
