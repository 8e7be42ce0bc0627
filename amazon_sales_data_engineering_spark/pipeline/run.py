"""End-to-end pipeline driver (reference steps 2→5 in one call).

The reference runs five sequential scripts against a remote warehouse; here
one function takes raw files to the star schema on the Spark catalog.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.readers import forex_table
from ..sources.sinks import save_table
from .config import FOREX_TABLE, ensure_namespaces
from .consumption import run_consumption
from .curated import run_curated
from .ingest import ingest_all


def load_forex(spark: SparkSession, data_root: str, faithful: bool = True) -> None:
    fx = forex_table(spark, f"{data_root}/exchange-rate-data.csv", faithful)
    save_table(fx, FOREX_TABLE, overwrite=True)


def run_pipeline(
    spark: SparkSession,
    data_root: str,
    faithful: bool = True,
    incremental: bool = False,
) -> dict[str, int]:
    """raw files → source → curated → consumption. Returns per-country
    loaded-file counts (0s on a re-run — ledger idempotency).

    ``incremental=True`` makes the curated and fact appends high-water-mark
    guarded, so the pipeline can be re-run as new files arrive without
    duplicating earlier rows (the reference re-run duplicates, §2.11.8).
    It needs ``faithful=False`` (the faithful whole-batch rank dedup is not
    incremental): ``faithful=True, incremental=True`` raises ``ValueError``.
    Surrogate keys stay dense but their exact values depend on batch
    boundaries, as with warehouse sequences."""
    if faithful and incremental:
        raise ValueError("incremental loads need the corrected profile: pass faithful=False")
    ensure_namespaces(spark)
    load_forex(spark, data_root, faithful)
    loaded = ingest_all(spark, data_root)
    if any(loaded.values()):
        run_curated(spark, faithful, incremental)
        run_consumption(spark, faithful, incremental)
    return loaded
