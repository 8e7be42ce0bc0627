"""Table sinks: the conditional append evaluates its input once, and a
write into an existing table matches columns by name.

``sources.sinks.save_table_if_nonempty`` guards an append on there being
rows. The guard must not cost a second evaluation of the input: the frame below
filters every row through a Python UDF that appends a line to a file for
each call, so after the write the file must hold one line per row. (An
accumulator cannot count these calls: a task cut short by a limit, as in
``isEmpty()``, drops its accumulator updates.) A frame with no rows must
create no table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_sales_data_engineering_spark.sources.sinks import (
    save_table,
    save_table_if_nonempty,
)

TABLES = ("default.sink_once", "default.sink_empty", "default.sink_by_name")


@pytest.fixture
def clean(spark):
    for t in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    yield spark
    for t in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_conditional_append_evaluates_its_input_once(clean, tmp_path):
    spark = clean
    calls = str(tmp_path / "calls")

    def seen(x):
        with open(calls, "a") as fh:
            fh.write("x\n")
        return x

    n = 40
    counted = F.udf(seen, "long")
    # a filter: unlike a projected column, the UDF cannot be pruned away
    df = spark.range(n, numPartitions=4).filter(counted("id") >= 0)
    assert save_table_if_nonempty(df, "default.sink_once")
    with open(calls) as fh:
        assert len(fh.readlines()) == n
    assert spark.table("default.sink_once").count() == n

    assert not save_table_if_nonempty(df.filter(F.col("id") < 0), "default.sink_empty")
    assert not spark.catalog.tableExists("default.sink_empty")


def test_save_table_into_an_existing_table_matches_columns_by_name(clean):
    spark = clean
    name = "default.sink_by_name"
    save_table(spark.createDataFrame([(1, "a")], "k int, v string"), name)
    save_table(spark.createDataFrame([("b", 2)], "v string, k int"), name)
    assert sorted(map(tuple, spark.table(name).collect())) == [(1, "a"), (2, "b")]
    assert spark.table(name).columns == ["k", "v"]

    save_table(spark.createDataFrame([("c", 3)], "v string, k int"), name, mode="overwrite")
    assert [tuple(r) for r in spark.table(name).collect()] == [(3, "c")]
