"""Pages-table source (S1).

The reference reads one uploaded binary at a time through a temp file
(/root/reference/api_server.py:123-126); here the source is a table scan:
Iceberg when the runtime has the connector (partition pruning on
warc_ts/host, snapshot isolation for the checkpoint manifest), plain
parquet otherwise (this sandbox). Only (url, html) are projected by the
parse stage — column pruning reaches the scan, so the 100TB `html` column
is the only heavy read and `text`/`lang` are never materialised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read the pages table. 'iceberg:<table>' selects the Iceberg
    connector; 'warc:<path>' (or a .warc / .warc.gz path) reads raw
    Common-Crawl-style WARC archives (sources/warc.py); any other
    string is a parquet path."""
    if path_or_table.startswith("warc:") or path_or_table.endswith(
        (".warc", ".warc.gz")
    ):
        from .warc import read_warc_pages

        return read_warc_pages(
            spark, path_or_table.removeprefix("warc:")
        )
    if path_or_table.startswith("iceberg:"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg connector not on classpath; use a parquet path "
                "or add iceberg-spark-runtime to spark.jars.packages"
            )
        return spark.read.format("iceberg").load(path_or_table[len("iceberg:"):])
    return spark.read.parquet(path_or_table)


