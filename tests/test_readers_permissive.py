"""S9 parity (ON_ERROR=CONTINUE): PERMISSIVE readers tolerate bad rows
instead of failing the load, and plan-quality guards for the physical
plans the engine promises (broadcast star joins, scan pushdown).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from amazon_sales_data_engineering_spark.sources.readers import read_sales_raw

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
from rawgen import RawTree  # noqa: E402

GOOD_CSV_ROW = (
    '"ORD-{i}","Alice {i}","BrandX/M1/Black/4GB",1,100,100,"PROMO1",100,'
    '5,"2020-01-01","Paid","Delivered","Card","Visa","123","Addr {i}"'
)
HEADER = (
    '"Order ID","Customer Name","Mobile Model","Quantity","Price per Unit",'
    '"Total Price","Promotion Code","Order Amount","GST","Order Date",'
    '"Payment Status","Shipping Status","Payment Method","Payment Provider",'
    '"Mobile","Delivery Address"'
)


@pytest.fixture()
def raw_root(tmp_path):
    csv_dir = tmp_path / "sales" / "source=IN" / "format=csv" / "date=2020-01-01"
    csv_dir.mkdir(parents=True)
    rows = [HEADER]
    rows += [GOOD_CSV_ROW.format(i=i) for i in range(3)]
    rows.append('"ORD-RAGGED","Bob","only","four","fields"')  # 5 of 16 cols
    (csv_dir / "orders.csv").write_text("\n".join(rows) + "\n")

    json_dir = tmp_path / "sales" / "source=FR" / "format=json" / "date=2020-01-02"
    json_dir.mkdir(parents=True)
    good = (
        '{{"Order ID": "FR-{i}", "Customer Name": "Chloe {i}", '
        '"Mobile Model": "BrandY/M2/Red/8GB", "Quantity": 2, '
        '"Price per Unit": "50", "Total Price": 100, "Promotion Code": null, '
        '"Order Amount": 100.0, "Tax": 5.0, "Order Date": "2020-01-02", '
        '"Payment Status": "Paid", "Shipping Status": "Delivered", '
        '"Payment Method": "Card", "Payment Provider": "CB", '
        '"Phone": "456", "Delivery Address": "Rue {i}"}}'
    )
    bad = (
        '{"Order ID": "FR-BAD", "Customer Name": "Typo", '
        '"Quantity": "not-a-number", "Total Price": 100}'
    )
    (json_dir / "orders.json").write_text(
        "[" + ",".join([good.format(i=i) for i in range(3)] + [bad]) + "]"
    )
    return str(tmp_path)


def test_csv_permissive_keeps_ragged_rows(spark, raw_root):
    df = read_sales_raw(spark, raw_root, "csv")
    assert df.count() == 4  # nothing dropped, nothing raised
    ragged = df.filter(F.col("Order ID") == "ORD-RAGGED").first()
    assert ragged["Customer Name"] == "Bob"
    assert ragged["Delivery Address"] is None  # missing fields → null


def test_json_permissive_nulls_bad_fields(spark, raw_root):
    df = read_sales_raw(spark, raw_root, "json")
    assert df.count() == 4
    bad = df.filter(F.col("Order ID") == "FR-BAD").first()
    assert bad["Quantity"] is None  # type mismatch → null, row kept
    assert bad["Total Price"] == 100
    good = df.filter(F.col("Order ID") == "FR-0").first()
    assert good["Quantity"] == 2


@pytest.mark.parametrize("fmt", ["csv", "parquet", "json"])
def test_every_format_reads_the_canonical_raw_columns(spark, tmp_path, fmt):
    """Each country's raw frame has the payload table's 16 names in file
    order, then the 3 metadata columns — the IN csv's GST/Mobile headers
    included, so nothing downstream depends on the format."""
    from amazon_sales_data_engineering_spark.sources.readers import PAYLOAD

    RawTree(str(tmp_path), 1, 3, 1).deliver(0)
    df = read_sales_raw(spark, str(tmp_path), fmt)
    assert df.columns == [name for name, _ in PAYLOAD] + [
        "_metadata_file_name",
        "_metadata_last_modified",
        "_metadata_row_numer",
    ]
    assert df.count() == 3


def test_star_join_plan_broadcasts_all_dims(spark):
    """Plan-quality guard: the flagship star join must broadcast every dim
    (SURVEY §4.2) — a regression to SortMergeJoin means the broadcast
    threshold or join structure broke."""
    from amazon_sales_data_engineering_spark.queries import REGISTRY

    df = REGISTRY["star_join_enriched"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 6


def test_q1_filter_pushed_to_scan(spark):
    """Plan-quality guard: the shipdate predicate must reach the parquet
    scan (PushedFilters), not evaluate post-scan only."""
    from amazon_sales_data_engineering_spark.queries import REGISTRY

    df = REGISTRY["q1_pricing_summary"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
