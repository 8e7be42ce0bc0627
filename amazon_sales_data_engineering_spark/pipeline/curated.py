"""Source → curated transform (reference step_4 parity).

Per country (/root/reference/step_4_source_to_curated.py:61-169):
filter Paid ∧ Delivered → add Country/Region constants → join forex →
load-batch dedup → 22-column curated shape with USD conversion.

Faithful-profile quirks preserved (SURVEY.md §2.11):
- forex join is FULL OUTER (J1) — fabricates order-less rows for forex
  dates with no sales; they are pruned by the key-based self-join (J2/J3),
  which drops NULL sales_order_key rows. We collapse window+filter+
  self-join into window+filter+IS NOT NULL — provably the same result set
  (sales_order_key is unique), one shuffle and one join cheaper.
- dedup is rank() with ties kept, partitioned by order_dt ordered by
  _metadata_last_modified DESC (W1) — load-batch semantics, not per-order.
- persistent typo'd names: exhchange_rate, conctact_no (7. Source to
  Curated Layer.sql:41,48).
- append without idempotency (§2.11.8) — re-running duplicates, as in the
  reference; the corrected profile should be paired with ledger-style
  tracking upstream.

Corrected profile: LEFT join (no fabricated rows) and row_number dedup per
order_id.

Scale notes: the forex side is tiny (~120 rows/year) → broadcast in the
corrected (left) profile; a full outer join cannot broadcast and becomes a
sort-merge join (SURVEY §4.2), which is exactly why the corrected profile
exists. The W1 window partitions by order_dt — few fat partitions at load
time; AQE skew handling applies, salting is the fallback (SURVEY §7.3.6).

``run_curated`` curates the three countries concurrently
(``parallel.run_concurrently``). Each country's task reads its own source
table and the forex table and writes only its own curated table, so no two
concurrent tasks write the same table.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import rank_dedup, rank_dedup_maxjoin
from ..sources.sinks import save_table_if_nonempty
from .config import FOREX_TABLE, PROFILES, CountryProfile, curated_table, source_table
from .parallel import run_concurrently


def curated_frame(
    src: DataFrame,
    forex: DataFrame,
    p: CountryProfile,
    faithful: bool = True,
    scale_dedup: bool = False,
) -> DataFrame:
    """Pure source→curated transform on explicit inputs: ``run_curated``
    applies it to the catalog's tables, the driver-gated ``pipeline_*``
    queries straight to raw files.

    ``scale_dedup=True`` swaps the faithful W1 window for
    ``operators.dedup.rank_dedup_maxjoin`` — the window-free,
    skew-immune formulation with IDENTICAL tie semantics (rows whose
    ``_metadata_last_modified`` equals the per-``order_dt`` max; see
    the operator docstring for the null-parity argument). The window
    form stays the faithful oracle; the maxjoin form is the plan you
    want at 100× data, where one hot load date would otherwise
    serialize onto a single window task (SURVEY §7.3.6). It exists only
    for the faithful dedup: ``faithful=False, scale_dedup=True`` raises
    ``ValueError``."""
    if scale_dedup and not faithful:
        raise ValueError("scale_dedup replaces the faithful dedup; pass faithful=True")
    filtered = (
        src.filter(F.col("payment_status") == "Paid")
        .filter(F.col("shipping_status") == "Delivered")
        .withColumn("country", F.lit(p.country))
        .withColumn("region", F.lit(p.region))
    )

    if faithful:
        joined = filtered.join(
            forex, filtered["order_dt"] == forex["date"], "outer"
        )
        if scale_dedup:
            deduped = rank_dedup_maxjoin(
                joined,
                partition_by=["order_dt"],
                order_col="_metadata_last_modified",
                desc=True,
            ).filter(F.col("sales_order_key").isNotNull())
        else:
            deduped = rank_dedup(
                joined,
                partition_by=["order_dt"],
                order_by=[F.col("_metadata_last_modified").desc()],
                keep_ties=True,
            ).filter(F.col("sales_order_key").isNotNull())  # ≡ J2/J3 inner self-join
    else:
        joined = filtered.join(
            F.broadcast(forex), filtered["order_dt"] == forex["date"], "left"
        )
        deduped = rank_dedup(
            joined,
            partition_by=["order_id"],
            order_by=[F.col("_metadata_last_modified").desc(), F.col("sales_order_key")],
            keep_ties=False,
        )

    rate = F.col(p.forex_col).cast("decimal(15,7)")
    return deduped.select(
        F.col("sales_order_key"),
        F.col("order_id"),
        F.col("order_dt"),
        F.col("customer_name"),
        F.col("mobile_key"),
        F.col("country"),
        F.col("region"),
        F.col("order_quantity"),
        F.lit(p.currency).alias("local_currency"),
        F.col("unit_price").alias("local_unit_price"),
        F.col("promotion_code"),
        F.col("final_order_amount").alias("local_total_order_amt"),
        F.col("tax_amount").alias("local_tax_amt"),
        rate.alias("exhchange_rate"),
        (F.col("final_order_amount") / rate)
        .cast("decimal(23,8)")
        .alias("us_total_order_amt"),
        (F.col("tax_amount") / rate).cast("decimal(23,8)").alias("usd_tax_amt"),
        F.col("payment_status"),
        F.col("shipping_status"),
        F.col("payment_method"),
        F.col("payment_provider"),
        F.col(p.contact_col).alias("conctact_no"),
        F.col("shipping_address"),
    )


def run_curated(
    spark: SparkSession, faithful: bool = True, incremental: bool = False
) -> None:
    """step_4 main(): curate and append all three countries, concurrently.

    ``incremental=True`` fixes the reference's re-run duplication
    (SURVEY §2.11.8): only source rows above the curated table's
    sales_order_key high-water mark are processed (dense keys make the max
    a valid watermark), AND incoming rows are left-anti joined against the
    curated table on order_id — the watermark alone can't catch a
    re-delivered file, because keys are assigned per ingest batch
    (max+1), so an already-loaded order_id arriving again gets a NEW
    higher key and would sail past the watermark. Designed for the
    corrected profile — the faithful profile's whole-batch rank dedup is
    inherently non-incremental."""
    run_concurrently(
        spark,
        "curated",
        {cc: partial(_append_curated, spark, cc, faithful, incremental) for cc in PROFILES},
    )


def _append_curated(
    spark: SparkSession, cc: str, faithful: bool, incremental: bool
) -> None:
    src, forex = spark.table(source_table(cc)), spark.table(FOREX_TABLE)
    df = curated_frame(src, forex, PROFILES[cc], faithful)
    target = curated_table(cc)
    if incremental and spark.catalog.tableExists(target):
        existing = spark.table(target)
        wm = existing.agg(F.max("sales_order_key")).first()[0]
        if wm is not None:
            df = df.filter(F.col("sales_order_key") > F.lit(wm))
        # order-level idempotency: drop orders the curated table
        # already holds, whatever key the re-delivery was assigned.
        df = df.join(
            existing.select("order_id"), "order_id", "left_anti"
        ).select(*df.columns)
    save_table_if_nonempty(df, target)
