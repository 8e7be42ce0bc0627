"""Table sinks (SURVEY.md §2.1 S14/S15).

``save_table`` = Snowpark ``df.write.save_as_table(name, mode=...)``
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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ckpt import observed_checkpoint


def save_table(df: DataFrame, name: str, mode: str = "append") -> None:
    """Append to (``mode="append"``) or replace (``"overwrite"``) the rows
    of table ``name``, creating it from ``df`` if it does not exist."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(name):
        df.write.mode(mode).format("parquet").saveAsTable(name)
        return
    cols = spark.table(name).columns
    df.select(*cols).write.insertInto(name, overwrite=mode == "overwrite")


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
