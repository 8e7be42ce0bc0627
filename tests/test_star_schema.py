"""End-to-end star-schema load over a generated raw tree.

The golden pipeline tests need the reference sample files; this one
generates its own input with perfbench's seeded raw-tree generator
(IN csv, US parquet, FR json, later-mtime and tied second files), so the
whole ``pipeline`` package runs on every test pass:

1. a faithful one-shot ``run_pipeline``;
2. an emptied catalog, then two corrected incremental batches through
   ``perfbench/elt.traced_pipeline`` — the call sequence the benchmark
   makes — the second re-delivering the first batch's orders;
3. an emptied catalog, then one corrected one-shot ``run_pipeline`` over
   that same tree, re-delivery included.

After each phase every table's row count must equal DuckDB's
(``perfbench/oracle.expected_elt_counts``), every dimension's and the
fact's surrogate keys must be exactly 1..n, and every fact foreign key
must match exactly one dimension row. The one-shot phases must leave no
fact watermark behind.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from amazon_sales_data_engineering_spark.pipeline import config
from amazon_sales_data_engineering_spark.pipeline.consumption import DIMS
from amazon_sales_data_engineering_spark.pipeline.run import run_pipeline

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
import elt  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
from rawgen import RawTree  # noqa: E402

DATES, ROWS = 3, 20
FACT = "consumption.sales_fact"
WATERMARK = "audit.fact_load_watermark"


def _drop_namespaces(spark) -> None:
    for ns in config.NAMESPACES:
        spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


@pytest.fixture
def empty_catalog(spark):
    _drop_namespaces(spark)
    yield spark
    _drop_namespaces(spark)


def _check_star(spark, files, faithful: bool) -> None:
    expected = oracle.expected_elt_counts(files, faithful)
    got = {t: spark.table(t).count() for t in expected}
    assert got == expected

    n_fact = expected[FACT]
    keys = [(d.table, d.pk) for d in DIMS] + [(FACT, "order_id_pk")]
    for table, pk in keys:
        pks = sorted(r[0] for r in spark.table(table).select(pk).collect())
        assert pks == list(range(1, expected[table] + 1)), table
    for d in DIMS:
        fk = d.pk.removesuffix("_pk") + "_fk"
        matched = spark.sql(
            f"SELECT count(*) FROM {FACT} f JOIN {d.table} d ON f.{fk} = d.{d.pk}"
        ).first()[0]
        assert matched == n_fact, fk  # pks are unique, so one match per row


def test_star_schema_bulk_then_incremental(empty_catalog, tmp_path):
    spark = empty_catalog
    bulk = RawTree(str(tmp_path / "bulk"), 1, ROWS, DATES)
    for i in range(DATES):
        bulk.deliver(i)
    loaded = run_pipeline(spark, bulk.root, faithful=True)
    assert sum(loaded.values()) == len(bulk.files)
    _check_star(spark, bulk.files, faithful=True)
    assert not spark.catalog.tableExists(WATERMARK)

    _drop_namespaces(spark)
    tree = RawTree(str(tmp_path / "trickle"), 2, ROWS, DATES)
    tracer = spans.Tracer(False)
    for i in range(2):
        batch = tree.deliver(i) + (tree.redeliver(0) if i else [])
        loaded = elt.traced_pipeline(spark, tracer, tree.root, False, True)
        assert sum(loaded.values()) == len(batch)
    _check_star(spark, tree.files, faithful=False)

    _drop_namespaces(spark)
    loaded = run_pipeline(spark, tree.root, faithful=False)
    assert sum(loaded.values()) == len(tree.files)
    _check_star(spark, tree.files, faithful=False)
    assert not spark.catalog.tableExists(WATERMARK)
