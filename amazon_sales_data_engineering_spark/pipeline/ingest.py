"""Raw → source-layer load (reference step_3 parity).

The reference COPYes each country's staged files into
``source.{cc}_sales_order`` with positional casts, renames, metadata
columns and a sequence surrogate key
(/root/reference/step_3_load_from_stage_to_source.py:22-113). Spark
equivalent: schema'd read → cast/alias select → append, with COPY's
per-file idempotency re-implemented via the audit.load_ledger
(sources.ledger).

COPY picks the files to load from its load metadata before it parses any
of them, and so does this load: it lists the country's files on the driver
(``sources.readers.list_sales_files``, no Spark job), drops the paths the
ledger holds, and parses only the rest, in the one job that appends them.
A country with no new file starts no Spark job, so a poll that finds
nothing parses nothing. The loaded-file counts and the ledger rows come
from the listing, so a file with no rows is loaded and recorded like any
other. Paths are compared in ``_metadata.file_path``'s percent-encoded
form and handed to the reader unencoded; the reader expands glob
metacharacters in a path, so a file whose name holds one is read as a
pattern (``sources.ledger`` has the two forms).

``ingest_all`` reads the ledger once, then loads the three countries
concurrently (``parallel.run_concurrently``): each country's task plans
its load and appends to its own source table, so no two concurrent tasks
write the same table. The ledger is the one table the countries share, and
two concurrent appends to one parquet table are unsafe, so the tasks only
return the files they loaded; after every source append has committed, the
batch records all of them in ONE ledger append.

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
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sequences import dense_keys, next_start
from ..sources.ledger import loaded_files, record_loaded_files
from ..sources.readers import list_sales_files, read_sales_files
from ..sources.sinks import save_table
from .config import PROFILES, CountryProfile, source_table
from .parallel import run_concurrently


class Fresh(NamedTuple):
    """A country's planned load: the listed files the ledger does not hold
    (recorded form, sorted) and their rows, parsed lazily (None: no file)."""

    files: list[str]
    rows: DataFrame | None


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


def _plan(
    spark: SparkSession, data_root: str, cc: str, loaded: set[str]
) -> tuple[Fresh, int | None]:
    """The country's listed files not in ``loaded``, and the key start
    (None, and no Spark job, when there is no such file)."""
    fmt = PROFILES[cc].fmt
    listed = list_sales_files(spark, data_root, fmt)
    files = sorted(listed.keys() - loaded)
    if not files:
        return Fresh(files, None), None
    rows = read_sales_files(spark, [listed[f] for f in files], fmt)
    return Fresh(files, rows), next_start(spark, source_table(cc), "sales_order_key")


def plan_ingest(
    spark: SparkSession, data_root: str, cc: str
) -> tuple[Fresh, int | None]:
    """Phase 1 of a load — the writer's READ-CHECK: (fresh files, key
    high-water start) as observed NOW. Split from ``commit_ingest`` to
    make the concurrency window explicit: two writers whose plans both
    ran before either commit observe the same files as fresh and the
    same start — the at-least-once race ``sources.ledger`` documents
    (pinned in tests/test_ledger_concurrency.py;
    ``ledger.reconcile_exactly_once`` is the standing repair)."""
    return _plan(spark, data_root, cc, loaded_files(spark)[source_table(cc)])


def _append_source(fresh: Fresh, start: int | None, cc: str) -> None:
    """Shape ``fresh``'s rows, key them from ``start`` and append them to
    the country's source table; no append without a fresh file. The append
    is the one job that parses the files."""
    if fresh.rows is None:
        return
    shaped = _source_select(fresh.rows, PROFILES[cc])
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


def commit_ingest(
    spark: SparkSession, fresh: Fresh, start: int | None, cc: str
) -> int:
    """Phase 2 of a load — shape, key from ``start``, append, then record
    in the ledger. Returns the number of files loaded."""
    _append_source(fresh, start, cc)
    record_loaded_files(spark, {source_table(cc): fresh.files})
    return len(fresh.files)


def ingest_sales(spark: SparkSession, data_root: str, cc: str) -> int:
    """Load one country's new files into its source table. Returns the
    number of files loaded (0 when everything is already in the ledger —
    the COPY-idempotency contract)."""
    fresh, start = plan_ingest(spark, data_root, cc)
    return commit_ingest(spark, fresh, start, cc)


def _load_new_files(
    spark: SparkSession, data_root: str, cc: str, loaded: set[str]
) -> list[str]:
    fresh, start = _plan(spark, data_root, cc, loaded)
    _append_source(fresh, start, cc)
    return fresh.files


def ingest_all(spark: SparkSession, data_root: str) -> dict[str, int]:
    """Load every country's new files (concurrently), then record them all
    in one ledger append. Returns the number of files loaded per country."""
    loaded = loaded_files(spark)
    tasks = {
        cc: partial(_load_new_files, spark, data_root, cc, loaded[source_table(cc)])
        for cc in PROFILES
    }
    files = run_concurrently(spark, "ingest", tasks)
    record_loaded_files(spark, {source_table(cc): f for cc, f in files.items()})
    return {cc: len(f) for cc, f in files.items()}
