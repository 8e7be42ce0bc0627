"""Driver-gated sales-pipeline queries (reference steps 3-5 parity).

The ingest→curated→star pipeline is the engine's flagship capability; these
queries put it under the driver's DuckDB correctness gate (the golden
pytest covers the stateful catalog variant; here the same transforms are
composed as PURE lazy plans straight off the raw fixture files, so the
gate can run them with any SparkSession and zero side effects).

Inputs are the reference's own sample data (read-only fixtures):
/root/reference/amazon-sales-data — IN csv (multiline quoted fields),
US parquet, FR json-array, plus exchange-rate-data.csv
(/root/reference/step_2_stage_data.py:112-123; SURVEY.md §1.4). The
fixture set is scale-factor-independent, so the oracles read the same
absolute paths the Spark plans do.

Determinism notes:
- the production ingest keys rows by (file, read-order row number); read
  order is not SQL-reproducible, so the gated queries key by
  (file, row_number over Order ID within file) — same operators
  (per-file window + dense keys), fully deterministic on both engines.
- money columns that originate as DOUBLE (US parquet, FR json) never
  reach a comparison: the gated aggregates use counts, integer-decimal
  sums and dates only. The IN row-level query compares every column, but
  the IN csv is all-varchar so every cast is string→decimal (identical
  HALF_UP rounding in Spark and DuckDB).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sequences import dense_keys
from ..operators.setops import union_distinct
from ..pipeline.config import PROFILES
from ..pipeline.consumption import DIMS, star
from ..pipeline.curated import curated_frame
from ..pipeline.ingest import _source_select
from ..sources.readers import forex_table, read_sales_raw
from .registry import register

DATA = "/root/reference/amazon-sales-data"

_RAW_IN = (
    f"read_csv('{DATA}/sales/source=IN/format=csv/date=*/*.csv', "
    "header=true, all_varchar=true)"
)
_RAW_US = f"read_parquet('{DATA}/sales/source=US/format=parquet/date=*/*.parquet')"
_RAW_FR = f"read_json('{DATA}/sales/source=FR/format=json/date=*/*.json', format='array')"


def _source_frame(spark: SparkSession, cc: str) -> DataFrame:
    """Raw files → source-layer shape with a deterministic surrogate key:
    per-file row numbers ordered by Order ID (unique within the fixtures),
    dense keys over (file basename, row number)."""
    p = PROFILES[cc]
    raw = read_sales_raw(spark, DATA, p.fmt)
    w = Window.partitionBy("_metadata_file_name").orderBy("Order ID")
    raw = raw.withColumn(
        "_metadata_row_numer", F.row_number().over(w).cast("decimal(38,0)")
    )
    shaped = _source_select(raw, p).withColumn(
        "file_name", F.element_at(F.split(F.col("_metadata_file_name"), "/"), -1)
    )
    return dense_keys(
        shaped,
        "sales_order_key",
        order_by=[F.col("file_name"), F.col("_metadata_row_numer")],
        start=1,
    )


def _curated_all(spark: SparkSession) -> DataFrame:
    """Faithful curated union of all three countries, composed lazily:
    source shape → full-outer forex join → rank-ties dedup → 22-col curated
    → deduplicating union (Snowpark semantics, U1)."""
    forex = forex_table(spark, f"{DATA}/exchange-rate-data.csv", faithful=True)
    frames = [
        curated_frame(_source_frame(spark, cc), forex, p, faithful=True)
        for cc, p in PROFILES.items()
    ]
    return union_distinct(*frames)


@register(
    "pipeline_source_in",
    oracle=f"""
WITH raw AS (
  SELECT *, parse_filename(filename) AS file_name,
         row_number() OVER (PARTITION BY filename ORDER BY "Order ID") AS rn
  FROM read_csv('{DATA}/sales/source=IN/format=csv/date=*/*.csv',
                header=true, all_varchar=true, filename=true)
)
SELECT row_number() OVER (ORDER BY file_name, rn) AS sales_order_key,
       "Order ID" AS order_id,
       "Customer Name" AS customer_name,
       "Mobile Model" AS mobile_key,
       CAST("Quantity" AS DECIMAL(38,0)) AS order_quantity,
       CAST("Price per Unit" AS DECIMAL(38,0)) AS unit_price,
       CAST("Total Price" AS DECIMAL(38,0)) AS order_valaue,
       "Promotion Code" AS promotion_code,
       CAST("Order Amount" AS DECIMAL(10,2)) AS final_order_amount,
       CAST("GST" AS DECIMAL(10,2)) AS tax_amount,
       CAST("Order Date" AS DATE) AS order_dt,
       "Payment Status" AS payment_status,
       "Shipping Status" AS shipping_status,
       "Payment Method" AS payment_method,
       "Payment Provider" AS payment_provider,
       "Mobile" AS contact_no,
       "Delivery Address" AS shipping_address,
       file_name,
       CAST(rn AS DECIMAL(38,0)) AS _metadata_row_numer
FROM raw
""",
    doc="Row-level source-layer load for IN: schema'd multiline-CSV read, "
    "positional string→decimal casts (TO_NUMBER parity), per-file row "
    "numbers, dense surrogate keys — the COPY INTO transform "
    "(/root/reference/step_3_load_from_stage_to_source.py:24-52) as one "
    "lazy plan, every column compared.",
    tags=("pipeline", "source"),
)
def pipeline_source_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = _source_frame(spark, "in")
    return keyed.select(
        "sales_order_key",
        "order_id",
        "customer_name",
        "mobile_key",
        "order_quantity",
        "unit_price",
        "order_valaue",
        "promotion_code",
        "final_order_amount",
        "tax_amount",
        "order_dt",
        "payment_status",
        "shipping_status",
        "payment_method",
        "payment_provider",
        F.col("mobile").alias("contact_no"),
        "shipping_address",
        "file_name",
        "_metadata_row_numer",
    )


@register(
    "pipeline_curated_agg",
    oracle=f"""
WITH u AS (
  SELECT "Payment Status" AS ps, "Shipping Status" AS ss,
         CAST("Quantity" AS DECIMAL(38,0)) AS qty,
         CAST("Order Date" AS DATE) AS dt, 'IN' AS country, 'APAC' AS region
  FROM {_RAW_IN}
  UNION ALL
  SELECT "Payment Status", "Shipping Status", CAST("Quantity" AS DECIMAL(38,0)),
         CAST("Order Date" AS DATE), 'US', 'AMER'
  FROM {_RAW_US}
  UNION ALL
  SELECT "Payment Status", "Shipping Status", CAST("Quantity" AS DECIMAL(38,0)),
         CAST("Order Date" AS DATE), 'FR', 'EU'
  FROM {_RAW_FR}
)
SELECT country, region, COUNT(*) AS n_orders, SUM(qty) AS sum_qty,
       COUNT(DISTINCT dt) AS n_days, MIN(dt) AS first_dt, MAX(dt) AS last_dt
FROM u
WHERE ps = 'Paid' AND ss = 'Delivered'
GROUP BY country, region
""",
    doc="Faithful source→curated for all three countries composed lazily "
    "(filter Paid∧Delivered → full-outer forex join → rank-ties dedup → "
    "deduplicating union), aggregated per country "
    "(/root/reference/step_4_source_to_curated.py:61-169). The oracle "
    "derives the same numbers independently from the raw files: the "
    "fixtures have one staged file per order date, so load-batch rank "
    "dedup keeps every filtered row (same invariant the golden pytest "
    "asserts).",
    tags=("pipeline", "curated"),
)
def pipeline_curated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _curated_all(spark)
        .groupBy("country", "region")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("order_quantity").alias("sum_qty"),
            F.countDistinct("order_dt").alias("n_days"),
            F.min("order_dt").alias("first_dt"),
            F.max("order_dt").alias("last_dt"),
        )
    )


@register(
    "pipeline_curated_agg_scale",
    oracle=f"""
WITH u AS (
  SELECT "Payment Status" AS ps, "Shipping Status" AS ss,
         CAST("Quantity" AS DECIMAL(38,0)) AS qty,
         CAST("Order Date" AS DATE) AS dt, 'IN' AS country, 'APAC' AS region
  FROM {_RAW_IN}
  UNION ALL
  SELECT "Payment Status", "Shipping Status", CAST("Quantity" AS DECIMAL(38,0)),
         CAST("Order Date" AS DATE), 'US', 'AMER'
  FROM {_RAW_US}
  UNION ALL
  SELECT "Payment Status", "Shipping Status", CAST("Quantity" AS DECIMAL(38,0)),
         CAST("Order Date" AS DATE), 'FR', 'EU'
  FROM {_RAW_FR}
)
SELECT country, region, COUNT(*) AS n_orders, SUM(qty) AS sum_qty,
       COUNT(DISTINCT dt) AS n_days, MIN(dt) AS first_dt, MAX(dt) AS last_dt
FROM u
WHERE ps = 'Paid' AND ss = 'Delivered'
GROUP BY country, region
""",
    doc="pipeline_curated_agg with the SKEW-PROOF W1 dedup "
    "(curated_frame(scale_dedup=True) → operators.dedup."
    "rank_dedup_maxjoin): the full faithful source→curated pipeline — "
    "filter, full-outer forex join, load-batch dedup, deduplicating "
    "union — must land IDENTICAL numbers when the order_dt window is "
    "replaced by the groupBy-max + broadcast-join formulation "
    "(round-10 verdict #1). Same independently-derived oracle as "
    "pipeline_curated_agg.",
    tags=("pipeline", "curated", "skew"),
)
def pipeline_curated_agg_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    forex = forex_table(spark, f"{DATA}/exchange-rate-data.csv", faithful=True)
    frames = [
        curated_frame(
            _source_frame(spark, cc), forex, p, faithful=True,
            scale_dedup=True,
        )
        for cc, p in PROFILES.items()
    ]
    return (
        union_distinct(*frames)
        .groupBy("country", "region")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("order_quantity").alias("sum_qty"),
            F.countDistinct("order_dt").alias("n_days"),
            F.min("order_dt").alias("first_dt"),
            F.max("order_dt").alias("last_dt"),
        )
    )


@register(
    "pipeline_star_counts",
    oracle=f"""
WITH cur AS (
  SELECT * FROM (
    SELECT "Customer Name" AS customer_name, "Mobile" AS contact,
           "Delivery Address" AS addr, "Mobile Model" AS mobile_key,
           "Promotion Code" AS promo, "Payment Method" AS method,
           "Payment Provider" AS provider, CAST("Order Date" AS DATE) AS dt,
           'IN' AS country, 'APAC' AS region,
           "Payment Status" AS ps, "Shipping Status" AS ss
    FROM {_RAW_IN}
    UNION ALL
    SELECT "Customer Name", "Phone", "Delivery Address", "Mobile Model",
           "Promotion Code", "Payment Method", "Payment Provider",
           CAST("Order Date" AS DATE), 'US', 'AMER',
           "Payment Status", "Shipping Status"
    FROM {_RAW_US}
    UNION ALL
    SELECT "Customer Name", "Phone", "Delivery Address", "Mobile Model",
           "Promotion Code", "Payment Method", "Payment Provider",
           CAST("Order Date" AS DATE), 'FR', 'EU',
           "Payment Status", "Shipping Status"
    FROM {_RAW_FR}
  ) WHERE ps = 'Paid' AND ss = 'Delivered'
),
cust AS (
  SELECT customer_name, country, region, COUNT(*) AS n
  FROM (SELECT DISTINCT customer_name, contact, addr, country, region FROM cur)
  GROUP BY 1, 2, 3
)
SELECT
  (SELECT COUNT(*) FROM (SELECT DISTINCT country, region FROM cur)) AS n_region,
  (SELECT COUNT(DISTINCT mobile_key) FROM cur) AS n_product,
  (SELECT COUNT(*) FROM (SELECT DISTINCT COALESCE(promo, 'NA'), country, region FROM cur)) AS n_promo,
  (SELECT COUNT(*) FROM (SELECT DISTINCT customer_name, contact, addr, country, region FROM cur)) AS n_customer,
  (SELECT COUNT(*) FROM (SELECT DISTINCT method, provider, country, region FROM cur)) AS n_payment,
  (SELECT date_diff('day', MIN(dt), MAX(dt)) + 1 FROM cur) AS n_date,
  (SELECT CAST(SUM(n) AS BIGINT)
   FROM cur JOIN cust USING (customer_name, country, region)) AS n_fact
""",
    doc="Star-schema build (reference step_5) as one lazy plan: groupBy-"
    "distinct dim frames, distributed date spine, 7-way broadcast star "
    "join with the customer-dim (name,country,region) fan-out — returns "
    "dim + fact cardinalities "
    "(/root/reference/step_5_curated_to_consumption.py:460-591).",
    tags=("pipeline", "star"),
)
def pipeline_star_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The curated pipeline (3 CSV sources → full-outer forex join →
    # rank dedup → deduplicating union) is referenced by SIX dim
    # frames, the date spine AND the star fact — ~14 copies of the
    # whole subtree in one 443KB plan, each executed independently
    # (r11, plans/r11/pipeline_star_counts_before.txt). The curated
    # table is reference-dataset sized; build it once.
    sales = _curated_all(spark).persist()
    frames = [spec.frame(sales) for spec in DIMS]
    fact = star(sales, [f.select(*spec.fact_keys) for spec, f in zip(DIMS, frames)])
    counts = [
        f.agg(F.count(F.lit(1)).alias(f"n_{spec.name}"))
        for spec, f in zip(DIMS, frames)
    ]
    counts.append(fact.agg(F.count(F.lit(1)).alias("n_fact")))
    return reduce(DataFrame.crossJoin, counts)
