"""Curated → consumption star schema (reference step_5 parity).

Six dimensions + sales_fact
(reference step_5_curated_to_consumption.py:51-591; DDL
8. Consumption Layer.sql:9-123). The schema's shape is written down once,
in ``DIMS``: an ordered table of ``DimSpec`` entries, one per dimension in
DDL order (region, product, promo code, customer, payment, date). A spec
names the table, its surrogate key, the frame builder that derives the
dim's rows from the curated union, the natural key (delta-load key and
surrogate-key order), the fact's join keys, and — region only — the
faithful delta key. Everything else is generic over the table:

- ``load_dim`` delta-loads any spec: a broadcast left-anti join against
  the existing dim (J4/J5; faithful region anti-joins on Country only,
  §2.11.6), dense keys continuing from max(pk), conditional append (S15).
  ``build_dims`` runs it for every spec, all six concurrently
  (``parallel.run_concurrently``): each dim reads only the curated sales
  and its own table and writes only its own table, so no two concurrent
  tasks write the same table and no dim's keys depend on the order the
  dims run in. The fact and its watermark run after the dims, one after
  the other.
- ``star`` joins sales rows to one frame per spec on its fact keys, a
  chain of BROADCAST inner joins (J6): dims are orders of magnitude
  smaller than the fact, so the fact never shuffles. ``build_fact`` feeds
  it the stored dims, plans.pipeline_ops.pipeline_star_counts the lazy
  dim frames. The reference joins date first; inner equi-joins commute,
  so joining in table order yields the same rows.

Incremental loads (``run_consumption(incremental=True)``) work from the
batch's delta: the curated rows above the fact watermark
(``audit.fact_load_watermark``, one max ``sales_order_key`` per country),
read once. One eager local checkpoint materialises those rows, and its job
also observes their count and each country's max key. The six dims and
the fact are built from the checkpoint — a new dim key can only come from
a curated row this batch appended — and the watermark is overwritten with
the observed maxima merged into the old marks, so the star's input is
never evaluated again. An empty delta runs no dim or fact statement. The
date dim spans min..max of its input and counts days from the min, so its
input is the delta's dates plus the dates it already holds: the delta
alone would leave gaps and restart ``day_counter``. The one-shot path
(``incremental=False``) builds from the whole curated union.

Spark-first deviations, same results:

- the date dim is built distributed (operators.datespine) instead of the
  reference's driver-side pandas (its create_date_dim also crashes as
  written — SURVEY §2.11.4; we implement what it *intends*, with the DDL's
  faithful column names incl. ``oder_month``/``order_quater``).
- groupBy().count() dim uniquification keeps the reference shape (A1); the
  count column is dropped by the frame's projection exactly as there.
- surrogate keys are dense row_number+offset, for dims (small by
  construction) and for the fact.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from decimal import Decimal
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ckpt import observed_checkpoint
from ..operators.datespine import date_spine
from ..operators.delta import new_rows
from ..operators.sequences import dense_keys, next_start, unique_keys
from ..operators.setops import union_all, union_distinct
from ..operators.star import star_join
from ..sources.sinks import save_table, save_table_if_nonempty
from .config import PROFILES, curated_table
from .parallel import run_concurrently


@dataclass(frozen=True)
class DimSpec:
    """One dimension of the star schema."""

    name: str  # pipeline_star_counts reports the row count as n_<name>
    table: str
    pk: str
    # curated sales → one row per natural key: the stored columns after pk
    frame: Callable[[DataFrame], DataFrame]
    natural_key: list[str]  # delta-load key and surrogate-key order
    fact_keys: list[str]  # USING columns of the fact's join to this dim
    faithful_delta_key: list[str] | None = None
    # the frame spans min..max of the natural key (the date dim), so a
    # delta load feeds it the keys the dim holds as well as the new rows
    spans: bool = False

    def delta_key(self, faithful: bool) -> list[str]:
        if faithful and self.faithful_delta_key:
            return self.faithful_delta_key
        return self.natural_key


def _promo_na(sales: DataFrame) -> DataFrame:
    return sales.withColumn(
        "promotion_code", F.coalesce(F.col("promotion_code"), F.lit("NA"))
    )


def _mobile_key_parts(sales: DataFrame) -> DataFrame:
    key = F.split(F.col("mobile_key"), "/")
    return sales.withColumns(
        {
            "brand": key.getItem(0).cast("string"),
            "model": key.getItem(1).cast("string"),
            "color": key.getItem(2).cast("string"),
            "memory": key.getItem(3).cast("string"),  # storage segment dropped
        }
    )


def _grouped(
    name: str,
    table: str,
    pk: str,
    key: list[str],
    fact_keys: list[str],
    derive: Callable[[DataFrame], DataFrame] = lambda sales: sales,
    faithful_delta_key: list[str] | None = None,
) -> DimSpec:
    """A groupBy dim: (pk, *key, isactive='Y') over the distinct ``key``
    values of ``derive(sales)``."""

    def frame(sales: DataFrame) -> DataFrame:
        return (
            derive(sales)
            .groupBy(*key)
            .count()
            .select(*key, F.lit("Y").alias("isactive"))
        )

    return DimSpec(name, table, pk, frame, key, fact_keys, faithful_delta_key)


def _date_frame(sales: DataFrame) -> DataFrame:
    """Distributed date dim with the DDL's faithful names (typos included:
    oder_month, order_quater — 8. Consumption Layer.sql:69-70). DayOfWeek
    follows the reference's pandas semantics: Monday=0, Weekend={5,6}."""
    return date_spine(sales, "order_dt").select(
        F.col("order_dt"),
        F.col("order_year"),
        F.col("day_counter"),
        F.col("order_month").alias("oder_month"),  # sic
        F.col("order_quarter").alias("order_quater"),  # sic
        F.col("order_day"),
        (F.col("order_isodow") - F.lit(1)).cast("int").alias("order_dayofweek"),
        F.col("order_dayname"),
        F.col("order_day").alias("order_dayofmonth"),
        F.col("order_daytype").alias("order_weekday"),
    )


DIMS: tuple[DimSpec, ...] = (
    _grouped(
        "region", "consumption.region_dim", "region_id_pk",
        ["country", "region"], ["country", "region"],
        faithful_delta_key=["country"],  # §2.11.6
    ),
    _grouped(
        "product", "consumption.product_dim", "product_id_pk",
        ["mobile_key", "brand", "model", "color", "memory"], ["mobile_key"],
        derive=_mobile_key_parts,
    ),
    _grouped(
        "promo", "consumption.promo_code_dim", "promo_code_id_pk",
        ["promotion_code", "country", "region"],
        ["promotion_code", "country", "region"],
        derive=_promo_na,
    ),
    # joined on (name, country, region) only: same-name customers fan the
    # fact rows out, as in the reference
    _grouped(
        "customer", "consumption.customer_dim", "customer_id_pk",
        ["customer_name", "conctact_no", "shipping_address", "country", "region"],
        ["customer_name", "region", "country"],
    ),
    _grouped(
        "payment", "consumption.payment_dim", "payment_id_pk",
        ["payment_method", "payment_provider", "country", "region"],
        ["payment_method", "payment_provider", "country", "region"],
    ),
    DimSpec(
        "date", "consumption.date_dim", "date_id_pk", _date_frame,
        ["order_dt"], ["order_dt"], spans=True,
    ),
)


def all_sales(spark: SparkSession, faithful: bool = True) -> DataFrame:
    """UNION of the three curated tables — deduplicating in faithful mode
    (Snowpark union semantics, U1) else UNION ALL."""
    dfs = [spark.table(curated_table(cc)) for cc in PROFILES]
    return union_distinct(*dfs) if faithful else union_all(*dfs)


def load_dim(
    spark: SparkSession, spec: DimSpec, sales: DataFrame, faithful: bool = True
) -> None:
    """Append the rows of ``spec.frame(sales)`` whose delta key the dim
    does not hold yet, keyed densely from max(pk) + 1. A spanning frame
    (the date dim) reads the natural keys the dim holds besides ``sales``,
    so its bounds and day counter stay those of every row loaded so far
    when ``sales`` is one batch's delta."""
    key = spec.delta_key(faithful)
    if not spark.catalog.tableExists(spec.table):
        rows = spec.frame(sales)
    else:
        stored = spark.table(spec.table)
        if spec.spans:
            nk = spec.natural_key
            sales = sales.select(*nk).unionByName(stored.select(*nk))
        rows = new_rows(spec.frame(sales), stored.select(*key), key)
    cols = rows.columns
    keyed = dense_keys(
        rows, spec.pk, spec.natural_key, start=next_start(spark, spec.table, spec.pk)
    )
    save_table_if_nonempty(keyed.select(spec.pk, *cols), spec.table)


def build_dims(spark, sales: DataFrame, faithful: bool = True) -> None:
    """step_5 dim phase. The reference calls create_date_dim twice
    (§2.11.5) — the second call is a no-op under the delta load, so one
    call is result-identical."""
    run_concurrently(
        spark,
        "dims",
        {spec.name: partial(load_dim, spark, spec, sales, faithful) for spec in DIMS},
    )


def star(sales: DataFrame, dims: list[DataFrame]) -> DataFrame:
    """``sales`` (null promo codes read 'NA', as in the promo dim) inner-
    joined to ``dims[i]`` on ``DIMS[i].fact_keys``, every dim broadcast."""
    pairs = [(dim, spec.fact_keys) for spec, dim in zip(DIMS, dims, strict=True)]
    return star_join(_promo_na(sales), pairs)


_WM_TABLE = "audit.fact_load_watermark"
_WM_SCHEMA = "country string, max_key decimal(38,0)"


def _read_watermark(spark) -> dict[str, Decimal] | None:
    """The recorded (country → max sales_order_key) marks; None before
    the first incremental fact load. Uses the reference's
    declared-but-unused ``audit`` schema (SURVEY §2.10 D3)."""
    if not spark.catalog.tableExists(_WM_TABLE):
        return None
    return {r.country: r.max_key for r in spark.table(_WM_TABLE).collect()}


def _above(sales: DataFrame, marks: dict[str, Decimal] | None) -> DataFrame:
    """Curated rows above their country's mark (every row of a country
    without one)."""
    if not marks:
        return sales
    country, key = F.col("country"), F.col("sales_order_key")
    mark = F.coalesce(*[F.when(country == c, F.lit(m)) for c, m in marks.items()])
    return sales.filter(mark.isNull() | (key > mark))


def _write_watermark(
    spark, marks: dict[str, Decimal] | None, batch: dict[str, Decimal]
) -> None:
    """Overwrite the watermark with ``marks`` raised to ``batch``'s maxima."""
    merged = dict(marks or {})
    for country, key in batch.items():
        merged[country] = max(merged.get(country, key), key)
    rows = spark.createDataFrame(list(merged.items()), _WM_SCHEMA)
    save_table(rows, _WM_TABLE, mode="overwrite")


def _apply_fact_watermark(spark, sales: DataFrame) -> DataFrame:
    """Incremental fact loads: keep only curated rows above each country's
    recorded (country, max sales_order_key) watermark. Only the traced
    batches of perfbench/elt.py call this; ``run_consumption`` reads the
    watermark once and filters in ``_batch_delta``."""
    return _above(sales, _read_watermark(spark))


def _record_fact_watermark(spark, processed: DataFrame) -> None:
    """Raise the watermark to ``processed``'s max key per country, which
    evaluates ``processed`` again. Only the traced batches of
    perfbench/elt.py call this; ``run_consumption`` raises it from the
    maxima its delta checkpoint observed."""
    batch = processed.groupBy("country").agg(F.max("sales_order_key")).collect()
    _write_watermark(spark, _read_watermark(spark), {c: m for c, m in batch})


def _batch_delta(
    sales: DataFrame, marks: dict[str, Decimal] | None
) -> tuple[DataFrame, int, dict[str, Decimal]]:
    """The rows of ``sales`` above ``marks``, materialised once: an eager
    local checkpoint whose job also observes the row count and each
    country's max key. Returns (rows, row count, {country: max key})."""
    key, country = F.col("sales_order_key"), F.col("country")
    maxima = [
        F.max(F.when(country == p.country, key)).alias(p.country)
        for p in PROFILES.values()
    ]
    rows, seen = observed_checkpoint(
        _above(sales, marks), F.count(F.lit(1)).alias("rows"), *maxima
    )
    n = seen.pop("rows")
    return rows, n, {c: m for c, m in seen.items() if m is not None}


_FACT = "consumption.sales_fact"


def build_fact(spark, sales: DataFrame, dense_fact_keys: bool = True) -> None:
    """Star-join fact assembly (J6) + fact sequence key. Only
    perfbench/elt.py passes ``dense_fact_keys`` (True, positionally);
    ``False`` would switch to sparse fully-parallel keys (§7.3.1)."""
    enriched = star(
        sales, [spark.table(d.table).select(d.pk, *d.fact_keys) for d in DIMS]
    )
    start = next_start(spark, _FACT, "order_id_pk")
    if dense_fact_keys:
        keyed = dense_keys(
            enriched,
            "order_id_pk",
            order_by=[F.col("country"), F.col("sales_order_key")],
            start=start,
        )
    else:
        keyed = unique_keys(enriched, "order_id_pk", start=start)
    fact = keyed.select(
        "order_id_pk",
        F.col("order_id").alias("order_code"),
        F.col("date_id_pk").alias("date_id_fk"),
        F.col("region_id_pk").alias("region_id_fk"),
        F.col("customer_id_pk").alias("customer_id_fk"),
        F.col("payment_id_pk").alias("payment_id_fk"),
        F.col("product_id_pk").alias("product_id_fk"),
        F.col("promo_code_id_pk").alias("promo_code_id_fk"),
        "order_quantity",
        "local_total_order_amt",
        "local_tax_amt",
        "exhchange_rate",
        "us_total_order_amt",
        "usd_tax_amt",
    )
    save_table_if_nonempty(fact, _FACT)


def run_consumption(
    spark: SparkSession, faithful: bool = True, incremental: bool = False
) -> None:
    """step_5 main(): dims then fact. Dims are always delta loads.
    ``incremental=True`` builds the dims and the fact from the curated rows
    above the audit watermark only, materialised once, and then raises the
    watermark to their maxima, so re-processing curated rows can't
    duplicate fact rows. A batch with no such rows writes no dim or fact
    row (the first one still creates the empty watermark table)."""
    sales = all_sales(spark, faithful)
    if not incremental:
        build_dims(spark, sales, faithful)
        build_fact(spark, sales)
        return
    marks = _read_watermark(spark)
    delta, n, batch = _batch_delta(sales, marks)
    if n:
        build_dims(spark, delta, faithful)
        build_fact(spark, delta)
    if n or marks is None:
        _write_watermark(spark, marks, batch)
