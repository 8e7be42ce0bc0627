"""Loaded-file ledger: COPY INTO idempotency for Spark.

Snowflake tracks which staged files each table has already COPYed, so
re-running the reference's step_3 is a no-op. Naive Spark appends would
duplicate (SURVEY.md §4.3). The ledger is a small catalog table in the
``audit`` namespace (declared-but-unused in the reference,
/root/reference/Snowflake Worksheets/2. Database and Schema.sql:11):

    audit.load_ledger(target_table string, file_path string, loaded_at ts)

New-file detection is a broadcast left-anti join on ``_metadata.file_path``
— the ledger stays tiny relative to the data (one row per file ever
loaded), so this costs one broadcast regardless of data size. Semantics are
at-least-once (no transactional catalog here):

- two writers whose new-file checks both ran before either commit will
  both load;
- a batch records its files only after every country's source append has
  committed, in ONE ledger append for the whole batch
  (``pipeline.ingest.ingest_all``), so a crash — or another country's
  failed load — between a country's source append and that ledger append
  leaves rows whose files the next run loads again.

``reconcile_exactly_once`` is the standing repair for both windows — a
(file, row-number) min-key dedup view that restores exactly-once EFFECT
over any such table (race pinned in tests/test_ledger_concurrency.py); a
Delta/Iceberg-backed catalog is the transactional alternative at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import save_table

LEDGER_TABLE = "audit.load_ledger"
# a source row's file and its row number in that file (sources.readers)
FILE_COL, ROW_COL = "_metadata_file_name", "_metadata_row_numer"


def _ledger_exists(spark: SparkSession) -> bool:
    return spark.catalog.tableExists(LEDGER_TABLE)


def filter_new_files(spark: SparkSession, df: DataFrame, target_table: str) -> DataFrame:
    """Drop rows whose source file was already loaded into ``target_table``."""
    if not _ledger_exists(spark):
        return df
    loaded = (
        spark.table(LEDGER_TABLE)
        .filter(F.col("target_table") == target_table)
        .select(F.col("file_path").alias(FILE_COL))
    )
    return df.join(F.broadcast(loaded), [FILE_COL], "left_anti")


def record_loaded_files(spark: SparkSession, files: dict[str, list[str]]) -> None:
    """Append one ledger row per (target table, file path) in ``files`` —
    one append for the whole batch, none when there is nothing to record."""
    rows = [(table, path) for table, paths in files.items() for path in paths]
    if not rows:
        return
    entry = spark.createDataFrame(rows, "target_table string, file_path string")
    stamp = F.current_timestamp().cast("timestamp_ntz")
    save_table(entry.withColumn("loaded_at", stamp), LEDGER_TABLE)


def reconcile_exactly_once(spark: SparkSession, target_table: str) -> DataFrame:
    """Exactly-once-EFFECT view over an at-least-once loaded source
    table (SURVEY §7.3.5's hard part, round-10 verdict #5).

    The ledger has no transactional catalog underneath it: two writers
    whose new-file checks both ran before either commit will BOTH load
    the same files (the race is pinned in
    tests/test_ledger_concurrency.py via the plan/commit split of
    ``pipeline.ingest``). Every physical source row is globally
    identified by (source file, row-number-in-file), so the repair is a
    pure view: per (file, row) keep the copy with the MIN surrogate
    key — the result is exactly what SOME serial single-writer
    execution would have produced (each racer assigns keys densely from
    the same observed high-water mark, so the kept copies carry one
    consistent assignment).

    Scale shape: one hash shuffle on the high-cardinality (file, row)
    key — partitions of 1-2 rows, skew impossible — then a first-row
    filter. Use it as the read surface of any source table whose
    writers may race; single-writer tables pass through unchanged (the
    window keeps every row)."""
    from ..operators.dedup import rank_dedup

    return rank_dedup(
        spark.table(target_table),
        partition_by=[FILE_COL, ROW_COL],
        order_by=[F.col("sales_order_key").asc()],
        keep_ties=False,
    )
