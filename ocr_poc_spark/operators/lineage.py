"""Per-bucket lineage rows (S5/A4) — the service-counter analogue.

The reference keeps module-global request/success/error counters and a
CSV metrics log (its ``api_server.py``). Here each committed bucket gets
one lineage row with doc/ok/failed counts and the seconds of its pass:
``run_job`` counts them in the job that writes the extracted rows
(``DataFrame.observe``), and the Spark driver writes the row
(``write_lineage_row``) right before the bucket's manifest entry — no
read-back and no per-partition pass over the extracted frame.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import LINEAGE_SCHEMA

# The bucket column lives in the lineage/bucket=K/ directory name.
_FILE_SCHEMA = to_arrow_schema(LINEAGE_SCHEMA)
_FILE_SCHEMA = _FILE_SCHEMA.remove(_FILE_SCHEMA.get_field_index("bucket"))


def partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """extracted (with bucket + success cols) -> (run_id, bucket,
    n_docs, n_ok), one row per bucket present: the counts run_job takes
    in its write job, as a separate aggregate to time on its own."""
    return extracted.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.count_if("success").alias("n_ok")
    ).select(F.lit(run_id).alias("run_id"), "bucket", "n_docs", "n_ok")


def write_lineage_row(
    lin_dir: str, run_id: str, bucket: int, n_docs: int, n_ok: int, secs: float
) -> None:
    """Replace ``lin_dir/bucket=<bucket>/`` with a directory holding just
    this bucket's row. The row is written to a hidden temp directory
    that then takes the bucket directory's place, so files left there by
    an earlier, uncommitted attempt go with it."""
    row = dict(run_id=run_id, partition_id=-1, n_docs=n_docs, n_ok=n_ok,
               n_failed=n_docs - n_ok, secs=secs, status="SUCCESS")
    final = os.path.join(lin_dir, f"bucket={bucket}")
    tmp = os.path.join(lin_dir, f".bucket={bucket}.tmp")
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(pa.Table.from_pylist([row], schema=_FILE_SCHEMA), tmp + "/part-0.parquet")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
