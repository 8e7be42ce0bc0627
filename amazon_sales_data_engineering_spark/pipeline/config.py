"""Pipeline configuration: namespaces, country profiles, semantic profiles.

``CountryProfile`` carries what differs by country past the raw read: the
raw format the country's files arrive in (a key of
``sources.readers.FORMATS``, which knows the directory, schema and header
names), the curated constants of the reference's
step_4_source_to_curated.py:81-85 (country, region, currency, forex
column) and the source table's contact column name (``mobile`` for IN,
``phone`` elsewhere). Raw header quirks are not here: every raw frame
arrives with the same canonical names.

Two semantic profiles (SURVEY.md §7.1):
- ``faithful`` (default) replicates the reference's observable quirks:
  deduplicating UNION, rank-ties dedup, full-outer forex join, Country-only
  region delta, the $4 forex-column bug, and the typo'd persistent column
  names (exhchange_rate, conctact_no, order_valaue, _metadata_row_numer,
  oder_month, order_quater — SURVEY §2.11.7).
- ``corrected`` fixes them: left forex join, row_number dedup, proper forex
  columns, UNION ALL.
"""

from __future__ import annotations

from dataclasses import dataclass

NAMESPACES = ("source", "curated", "consumption", "common", "audit")
FOREX_TABLE = "common.exchange_rate"


@dataclass(frozen=True)
class CountryProfile:
    fmt: str  # csv | parquet | json
    country: str  # IN | US | FR
    region: str  # APAC | AMER | EU
    currency: str  # INR | USD | EUR
    forex_col: str  # usd2inr | usd2usd | usd2eu
    contact_col: str  # source-table column name: mobile | phone


PROFILES: dict[str, CountryProfile] = {
    "in": CountryProfile("csv", "IN", "APAC", "INR", "usd2inr", "mobile"),
    "us": CountryProfile("parquet", "US", "AMER", "USD", "usd2usd", "phone"),
    "fr": CountryProfile("json", "FR", "EU", "EUR", "usd2eu", "phone"),
}


def source_table(cc: str) -> str:
    return f"source.{cc}_sales_order"


def curated_table(cc: str) -> str:
    return f"curated.{cc}_sales_order"


def ensure_namespaces(spark) -> None:
    """D3 parity: the five reference schemas as Spark databases."""
    for ns in NAMESPACES:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {ns}")
