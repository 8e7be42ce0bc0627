"""Combinations of pipeline flags the code cannot honour are rejected.

``run_pipeline(faithful=True, incremental=True)`` would pair the faithful
whole-batch rank dedup with high-water-mark loads, and
``curated_frame(faithful=False, scale_dedup=True)`` would drop
``scale_dedup`` on the floor. Both must raise ``ValueError`` before any
Spark job runs.
"""

from __future__ import annotations

import pytest

from amazon_sales_data_engineering_spark.pipeline.config import PROFILES
from amazon_sales_data_engineering_spark.pipeline.curated import curated_frame
from amazon_sales_data_engineering_spark.pipeline.run import run_pipeline

SOURCE = (
    "sales_order_key decimal(38,0), order_id string, order_dt date, "
    "customer_name string, mobile_key string, order_quantity decimal(38,0), "
    "unit_price decimal(38,0), promotion_code string, "
    "final_order_amount decimal(10,2), tax_amount decimal(10,2), "
    "payment_status string, shipping_status string, payment_method string, "
    "payment_provider string, mobile string, shipping_address string, "
    "_metadata_last_modified timestamp_ntz"
)


def _faithful_incremental(spark, tmp_path):
    run_pipeline(spark, str(tmp_path), faithful=True, incremental=True)


def _corrected_scale_dedup(spark, tmp_path):
    src = spark.createDataFrame([], SOURCE)
    forex = spark.createDataFrame([], "date date, usd2inr decimal(10,7)")
    curated_frame(src, forex, PROFILES["in"], faithful=False, scale_dedup=True)


@pytest.mark.parametrize("call", [_faithful_incremental, _corrected_scale_dedup])
def test_unsupported_flags_raise_before_any_job(spark, tmp_path, call):
    sc = spark.sparkContext
    group = f"reject.{call.__name__}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError):
            call(spark, tmp_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
