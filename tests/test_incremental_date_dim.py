"""The date dimension under incremental loads spans every loaded date.

Corrected incremental batches build the star schema from each batch's new
curated rows only. The date dim is the one dimension whose rows are not a
function of those rows alone: it holds one row per day from the first to
the last order date ever loaded, and ``day_counter`` counts days from the
first. This test delivers order dates 0, then 3 (leaving a gap), then 1
(out of order) over a small generated raw tree, one ``run_pipeline`` batch
each, and requires the date dim to hold exactly one row per day from the
min to the max curated ``order_dt``, counted from the first batch's
minimum, with dense surrogate keys.

A last batch only re-delivers date 0's files: its files load, but the
curated layer drops every order it already holds, so the batch's delta is
empty. It must run no dimension task and leave the star schema and the
fact watermark as they were.
"""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from amazon_sales_data_engineering_spark.pipeline import config
from amazon_sales_data_engineering_spark.pipeline.consumption import DIMS, all_sales
from amazon_sales_data_engineering_spark.pipeline.run import run_pipeline

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
from rawgen import RawTree  # noqa: E402

SEED, ROWS, DATES = 5, 10, 4
DATE_DIM = "consumption.date_dim"
STAR = [d.table for d in DIMS] + ["consumption.sales_fact", "audit.fact_load_watermark"]


def _drop_namespaces(spark) -> None:
    for ns in config.NAMESPACES:
        spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


@pytest.fixture
def empty_catalog(spark):
    _drop_namespaces(spark)
    yield spark
    _drop_namespaces(spark)


def _curated_bounds(spark) -> tuple[dt.date, dt.date]:
    row = all_sales(spark, faithful=False).agg(F.min("order_dt"), F.max("order_dt")).first()
    return row[0], row[1]


def test_date_dim_spans_every_loaded_date(empty_catalog, tmp_path):
    spark = empty_catalog
    tree = RawTree(str(tmp_path / "raw"), SEED, ROWS, DATES)
    origin = None
    for i in (0, 3, 1):
        tree.deliver(i)
        loaded = run_pipeline(spark, tree.root, faithful=False, incremental=True)
        assert sum(loaded.values()) > 0
        if origin is None:
            origin = _curated_bounds(spark)[0]

    lo, hi = _curated_bounds(spark)
    assert (lo, hi) == (tree.date(0), tree.date(3))
    days = [lo + dt.timedelta(days=k) for k in range((hi - lo).days + 1)]
    dim = spark.table(DATE_DIM).select("date_id_pk", "order_dt", "day_counter").collect()
    assert sorted(r.order_dt for r in dim) == days
    assert sorted((r.order_dt, r.day_counter) for r in dim) == [
        (d, (d - origin).days + 1) for d in days
    ]
    assert sorted(r.date_id_pk for r in dim) == list(range(1, len(days) + 1))

    def star():
        return {t: sorted(map(tuple, spark.table(t).collect())) for t in STAR}

    def dim_jobs() -> set[int]:
        tracker = spark.sparkContext.statusTracker()
        return {j for d in DIMS for j in tracker.getJobIdsForGroup(f"dims.{d.name}")}

    before, jobs = star(), dim_jobs()
    tree.redeliver(0)
    loaded = run_pipeline(spark, tree.root, faithful=False, incremental=True)
    assert sum(loaded.values()) > 0
    assert dim_jobs() <= jobs  # no new job (old ones may age out of the tracker)
    assert star() == before
