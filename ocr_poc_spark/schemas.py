"""Fixed schemas for every table in the pipeline (dynamic in, fixed out —
mirroring the reference's schemaless dict input / hard-coded output record,
/root/reference/ocr/extractors/cni_extractor_18_f.py:465-467,493-501)."""

from __future__ import annotations

import pyspark.sql.types as T

# Input table (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
    ]
)

# Final extracted record (data_dictionary.json analogue).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("doc_kind", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("message", T.StringType()),
        T.StructField("quality_score", T.DoubleType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("raw_text", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("pub_date", T.StringType()),
        T.StructField("reading_time", T.StringType()),
        T.StructField("comment_count", T.StringType()),
        T.StructField("item_count", T.StringType()),
        T.StructField("page_info", T.StringType()),
        T.StructField("doc_ref", T.StringType()),
        T.StructField("site_name", T.StringType()),
        T.StructField("body_text", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        T.StructField("anchors_detected", T.MapType(T.StringType(), T.BooleanType())),
        T.StructField("n_blocks", T.IntegerType()),
    ]
)

# Lineage rows: one per committed bucket, written by the Spark driver
# before the bucket's manifest entry (service-counter analogue of the
# reference's api_server.py). partition_id is -1: no task writes them.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_failed", T.LongType()),
        T.StructField("secs", T.DoubleType()),
        T.StructField("status", T.StringType()),
    ]
)
