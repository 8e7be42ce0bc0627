"""Output checks: DuckDB computes what the program should have produced.

- ELT: row counts of every source, curated, dimension and fact table,
  computed from the generated raw files the way tests/test_pipeline_golden.py
  does, extended with the two dedup profiles (faithful: per order date keep
  the files with the newest mtime, ties kept; corrected: one row per
  order_id).
- Queries: row count plus an order-insensitive digest of the canonicalised
  rows, against each registry query's DuckDB oracle (cells canonicalised
  by tests/oracle_util.canon_cell: exact floats, normalised decimals).
"""

from __future__ import annotations

import hashlib

import duckdb

from amazon_sales_data_engineering_spark.tables import TABLE_NAMES
from rawgen import COUNTRIES, RawFile
from tests.oracle_util import canon_cell

_META = {"in": ("IN", "APAC"), "us": ("US", "AMER"), "fr": ("FR", "EU")}


# -- ELT ------------------------------------------------------------------

def _raw_sql(path: str, cc: str) -> str:
    fmt = COUNTRIES[cc][0]
    if fmt == "csv":
        return (f"SELECT * EXCLUDE (\"GST\", \"Mobile\"), \"GST\" AS \"Tax\", \"Mobile\" AS \"Phone\" "
                f"FROM read_csv('{path}', header=true, all_varchar=true, quote='\"', escape='\"')")
    if fmt == "parquet":
        return f"SELECT * FROM read_parquet('{path}')"
    return f"SELECT * FROM read_json('{path}', format='array')"


def expected_elt_counts(files: list[RawFile], faithful: bool) -> dict[str, int]:
    """Row count per catalog table after every file in ``files`` has been
    loaded (in any batching, for the corrected incremental profile)."""
    con = duckdb.connect()
    try:
        for cc in COUNTRIES:
            country, region = _META[cc]
            parts = [
                f"SELECT '{f.path}' AS file, {f.mtime} AS mtime, * FROM ({_raw_sql(f.path, cc)})"
                for f in files if f.cc == cc
            ]
            con.execute(f"CREATE TABLE raw_{cc} AS " + " UNION ALL BY NAME ".join(parts))
            con.execute(
                f"""CREATE VIEW paid_{cc} AS
                SELECT *, CAST("Order Date" AS DATE) AS order_dt,
                       '{country}' AS country, '{region}' AS region
                FROM raw_{cc}
                WHERE "Payment Status" = 'Paid' AND "Shipping Status" = 'Delivered'"""
            )
            if faithful:  # rank() over order_dt by mtime desc, ties kept
                cur = (f"SELECT * FROM paid_{cc} QUALIFY mtime = "
                       f"max(mtime) OVER (PARTITION BY order_dt)")
            else:  # row_number() per order_id, newest file first
                cur = (f"SELECT * FROM paid_{cc} QUALIFY row_number() OVER "
                       f"(PARTITION BY \"Order ID\" ORDER BY mtime DESC) = 1")
            con.execute(f"CREATE VIEW cur_{cc} AS {cur}")
        con.execute(
            "CREATE VIEW cur_all AS " + " UNION ALL ".join(
                f"""SELECT "Customer Name" AS customer_name, "Phone" AS contact,
                       "Delivery Address" AS addr, "Mobile Model" AS mobile_key,
                       COALESCE("Promotion Code", 'NA') AS promo,
                       "Payment Method" AS method, "Payment Provider" AS provider,
                       order_dt, country, region FROM cur_{cc}"""
                for cc in COUNTRIES)
        )
        q = lambda sql: con.execute(sql).fetchone()[0]
        out = {}
        for cc in COUNTRIES:
            out[f"source.{cc}_sales_order"] = q(f"SELECT count(*) FROM raw_{cc}")
            out[f"curated.{cc}_sales_order"] = q(f"SELECT count(*) FROM cur_{cc}")
        out["consumption.region_dim"] = q("SELECT count(DISTINCT country) FROM cur_all")
        out["consumption.product_dim"] = q("SELECT count(DISTINCT mobile_key) FROM cur_all")
        out["consumption.promo_code_dim"] = q(
            "SELECT count(*) FROM (SELECT DISTINCT promo, country, region FROM cur_all)")
        out["consumption.payment_dim"] = q(
            "SELECT count(*) FROM (SELECT DISTINCT method, provider, country, region FROM cur_all)")
        out["consumption.customer_dim"] = q(
            "SELECT count(*) FROM (SELECT DISTINCT customer_name, contact, addr, country, region FROM cur_all)")
        out["consumption.date_dim"] = q(
            "SELECT date_diff('day', min(order_dt), max(order_dt)) + 1 FROM cur_all")
        # customer-dim join key is (name, country, region): same-name
        # customers fan out, as in the reference.
        out["consumption.sales_fact"] = q(
            """WITH cust AS (
                 SELECT customer_name, country, region, count(*) AS n FROM (
                   SELECT DISTINCT customer_name, contact, addr, country, region FROM cur_all)
                 GROUP BY ALL)
               SELECT coalesce(sum(n), 0) FROM cur_all JOIN cust USING (customer_name, country, region)"""
        )
        return out
    finally:
        con.close()


# -- queries --------------------------------------------------------------

def duck_for(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = repr([columns[i] for i in order])
    canon = sorted(repr(tuple(canon_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(header.encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return len(canon), h.hexdigest()


def arrow_rows(table) -> list[tuple]:
    cols = [table.column(c).to_pylist() for c in table.column_names]
    return list(zip(*cols)) if cols else []


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return digest(list(rel.columns), rel.fetchall())
