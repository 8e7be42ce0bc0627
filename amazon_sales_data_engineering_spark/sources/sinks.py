"""Table sinks (SURVEY.md §2.1 S14/S15).

``save_table`` = Snowpark ``df.write.save_as_table(name, mode=...)`` for
the two modes the pipeline uses, append and overwrite
(reference step_4_source_to_curated.py:167-169). A missing table is
created with ``saveAsTable``. Into an existing table the frame's columns
are selected by the table's names and inserted (``insertInto``): one SQL
execution, where ``saveAsTable`` on an existing table runs three.

The conditional sink (reference step_5_curated_to_consumption.py:51-67)
guards its append on ``count() > 0``, which evaluates the input twice: once
for the count (an accidental extra action, SURVEY §2.1 S19) and once for
the write. Here the input is evaluated once: an eager local checkpoint
whose job also counts the rows (``observe``), and the append reads the
checkpoint.

Bookkeeping rows built on the driver (the load ledger, the fact
watermark) are written from ``local_rows``: one partition of a JVM-local
relation, so the write is one task that writes one file.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ckpt import observed_checkpoint


def save_table(df: DataFrame, name: str, overwrite: bool = False) -> None:
    """Append ``df`` to table ``name``, or with ``overwrite=True`` replace
    its rows, creating the table from ``df`` if it does not exist."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(name):
        mode = "overwrite" if overwrite else "append"
        df.write.mode(mode).format("parquet").saveAsTable(name)
        return
    cols = spark.table(name).columns
    df.select(*cols).write.insertInto(name, overwrite=overwrite)


def local_rows(spark: SparkSession, rows: list[tuple], schema: pa.Schema) -> DataFrame:
    """``rows`` as a one-partition ``LocalTableScan``. ``createDataFrame``
    plans a pyarrow Table as a JVM-local relation; a Python list (and an
    empty pandas frame, silently) plans as ``Scan ExistingRDD`` over a
    Python RDD, whose write starts Python workers for one task per core
    and writes a file per task. A local relation also splits into up to
    one partition per core, hence the ``coalesce(1)``."""
    table = pa.Table.from_pylist([dict(zip(schema.names, row)) for row in rows], schema)
    return spark.createDataFrame(table).coalesce(1)


def save_table_if_nonempty(df: DataFrame, name: str) -> bool:
    """Append only when there are rows (S15). Returns True if written.
    ``df`` is evaluated once, by the checkpoint that also counts it."""
    rows, seen = observed_checkpoint(df, F.count(F.lit(1)).alias("n"))
    if not seen["n"]:
        return False
    save_table(rows, name)
    return True


def save_table_partitioned(
    df: DataFrame,
    name: str,
    partition_cols: list[str],
    mode: str = "append",
) -> None:
    """Hive-partitioned table sink — the layout the source data itself uses
    (source=/format=/date= dirs, SURVEY §1.4) and the right one for big
    facts: queries filtering on the partition columns prune whole
    directories at plan time (PartitionFilters) instead of reading and
    discarding. Choose low-cardinality, commonly-filtered columns (load
    date, country); high-cardinality partitioning creates a small-file
    explosion at scale."""
    df.write.mode(mode).format("parquet").partitionBy(*partition_cols).saveAsTable(
        name
    )
