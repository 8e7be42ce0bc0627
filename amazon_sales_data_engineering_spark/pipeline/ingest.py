"""Raw → source-layer load (reference step_3 parity).

The reference COPYes each country's staged files into
``source.{cc}_sales_order`` with positional casts, renames, metadata
columns and a sequence surrogate key
(/root/reference/step_3_load_from_stage_to_source.py:22-113). Spark
equivalent: schema'd read → cast/alias select → append, with COPY's
per-file idempotency re-implemented via the audit.load_ledger
(sources.ledger).

``ingest_all`` loads the three countries concurrently
(``parallel.run_concurrently``): each country's task plans its load and
appends to its own source table, so no two concurrent tasks write the same
table. The ledger is the one table the countries share, and two concurrent
appends to one parquet table are unsafe, so the tasks only return the
files they loaded; after every source append has committed, the batch
records all of them in ONE ledger append.

Target schema (FIXTURES.md §2.1, faithful names incl. the DDL typos
``order_valaue`` and ``_metadata_row_numer``):

    sales_order_key decimal(38,0), order_id, customer_name, mobile_key,
    order_quantity, unit_price, order_valaue decimal(38,0),
    promotion_code, final_order_amount, tax_amount decimal(10,2),
    order_dt date, payment_status, shipping_status, payment_method,
    payment_provider, mobile|phone, shipping_address,
    _metadata_file_name, _metadata_row_numer, _metadata_last_modified
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.sequences import dense_keys, next_start
from ..sources.ledger import filter_new_files, record_loaded_files
from ..sources.readers import read_sales_raw
from ..sources.sinks import save_table
from .config import PROFILES, CountryProfile, source_table
from .parallel import run_concurrently


def _source_select(df: DataFrame, profile: CountryProfile) -> DataFrame:
    """Positional-cast projection (S6/S7/P8 parity). TO_NUMBER defaults to
    decimal(38,0) — integer truncation semantics preserved."""
    num = lambda field: F.col(field).cast("decimal(38,0)")
    money = lambda field: F.col(field).cast("decimal(10,2)")
    return df.select(
        F.col("Order ID").alias("order_id"),
        F.col("Customer Name").alias("customer_name"),
        F.col("Mobile Model").alias("mobile_key"),
        num("Quantity").alias("order_quantity"),
        num("Price per Unit").alias("unit_price"),
        num("Total Price").alias("order_valaue"),  # sic (3. Source Tables.sql:36)
        F.col("Promotion Code").alias("promotion_code"),
        money("Order Amount").alias("final_order_amount"),
        money("Tax").alias("tax_amount"),
        F.col("Order Date").cast("date").alias("order_dt"),
        F.col("Payment Status").alias("payment_status"),
        F.col("Shipping Status").alias("shipping_status"),
        F.col("Payment Method").alias("payment_method"),
        F.col("Payment Provider").alias("payment_provider"),
        F.col("Phone").alias(profile.contact_col),
        F.col("Delivery Address").alias("shipping_address"),
        F.col("_metadata_file_name"),
        F.col("_metadata_row_numer"),
        F.col("_metadata_last_modified"),
    )


def plan_ingest(
    spark: SparkSession, data_root: str, cc: str
) -> tuple[DataFrame, int]:
    """Phase 1 of a load — the writer's READ-CHECK: (fresh rows, key
    high-water start) as observed NOW. Split from ``commit_ingest`` to
    make the concurrency window explicit: two writers whose plans both
    ran before either commit observe the same files as fresh and the
    same start — the at-least-once race ``sources.ledger`` documents
    (pinned in tests/test_ledger_concurrency.py;
    ``ledger.reconcile_exactly_once`` is the standing repair)."""
    profile = PROFILES[cc]
    target = source_table(cc)
    raw = read_sales_raw(spark, data_root, profile.fmt)
    fresh = filter_new_files(spark, raw, target)
    return fresh, next_start(spark, target, "sales_order_key")


def _append_source(fresh: DataFrame, start: int, cc: str) -> list[str]:
    """Shape ``fresh``, key it from ``start`` and append it to the
    country's source table. Returns the files it held, sorted (none: no
    append). The parsed rows are evaluated once: the eager local checkpoint
    that materializes them also collects their file paths (``observe``),
    and the append reads the checkpoint."""
    obs = Observation()
    fresh = fresh.observe(
        obs, F.collect_set("_metadata_file_name").alias("files")
    ).localCheckpoint(eager=True)
    files = sorted(obs.get["files"])
    if not files:
        return files
    shaped = _source_select(fresh, PROFILES[cc])
    # Sequence surrogate key (§4.3): dense, restart-safe via max+1 offset.
    # Ordered by (file, row-in-file) — a total order over the load batch.
    # At fact scale swap dense_keys for unique_keys (single-partition window
    # cliff); source loads here are file-batch sized.
    keyed = dense_keys(
        shaped,
        key_col="sales_order_key",
        order_by=[F.col("_metadata_file_name"), F.col("_metadata_row_numer")],
        start=start,
    ).withColumn("sales_order_key", F.col("sales_order_key").cast("decimal(38,0)"))
    save_table(keyed.select("sales_order_key", *shaped.columns), source_table(cc))
    return files


def commit_ingest(
    spark: SparkSession, fresh: DataFrame, start: int, cc: str
) -> int:
    """Phase 2 of a load — shape, key from ``start``, append, then record
    in the ledger. Returns the number of files loaded."""
    files = _append_source(fresh, start, cc)
    record_loaded_files(spark, {source_table(cc): files})
    return len(files)


def ingest_sales(spark: SparkSession, data_root: str, cc: str) -> int:
    """Load one country's new files into its source table. Returns the
    number of files loaded (0 when everything is already in the ledger —
    the COPY-idempotency contract)."""
    fresh, start = plan_ingest(spark, data_root, cc)
    return commit_ingest(spark, fresh, start, cc)


def _load_new_files(spark: SparkSession, data_root: str, cc: str) -> list[str]:
    fresh, start = plan_ingest(spark, data_root, cc)
    return _append_source(fresh, start, cc)


def ingest_all(spark: SparkSession, data_root: str) -> dict[str, int]:
    """Load every country's new files (concurrently), then record them all
    in one ledger append. Returns the number of files loaded per country."""
    files = run_concurrently(
        spark,
        "ingest",
        {cc: partial(_load_new_files, spark, data_root, cc) for cc in PROFILES},
    )
    record_loaded_files(spark, {source_table(cc): f for cc, f in files.items()})
    return {cc: len(f) for cc, f in files.items()}
