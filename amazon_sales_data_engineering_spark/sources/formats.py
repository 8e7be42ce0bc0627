"""Generic format presets: one reader/writer surface for every file format
the engine speaks (SURVEY §2.1 D5 generalized beyond the reference's three).

The reference fixes formats per country (CSV/Parquet/JSON with Snowflake
FILE FORMAT objects); a reusable engine exposes the format as a parameter
with the same per-format option presets. Parquet and ORC are the columnar
scale paths (splittable, predicate/column pushdown, whole-stage codegen);
CSV/JSON are ingest-edge formats (PERMISSIVE by default, multiLine opt-in
— note multiLine makes them non-splittable, SURVEY §7.3); text is the
raw-corpus format (one row per line, or wholetext for doc-per-file).

Avro requires the external spark-avro package; it is probed at call time
and reported with a clear error rather than an import crash, so the same
code runs in environments with and without the jar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SPLITTABLE_COLUMNAR = ("parquet", "orc")


def read_table(
    spark: SparkSession,
    path: str | list[str],
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read ``path`` (one path or glob, or a list of them) as ``fmt`` with
    the engine's per-format presets.

    Presets: CSV → header+PERMISSIVE, JSON → PERMISSIVE, text → one row
    per line in column ``value``. Pass ``options`` to override (e.g.
    ``{"multiLine": "true"}`` for quoted embedded newlines,
    ``{"wholetext": "true"}`` for document-per-file)."""
    fmt = fmt.lower()
    defaults: dict[str, dict[str, str]] = {
        "csv": {"header": "true", "mode": "PERMISSIVE"},
        "json": {"mode": "PERMISSIVE"},
        "parquet": {},
        "orc": {},
        "text": {},
        "avro": {},
    }
    if fmt not in defaults:
        raise ValueError(f"unsupported format {fmt!r}")
    if fmt == "avro":
        _require_avro(spark)
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    r = r.options(**{**defaults[fmt], **(options or {})})
    return r.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Write ``df`` to ``path`` as ``fmt``. Columnar formats keep snappy
    compression defaults; ``partition_by`` produces Hive-style directory
    partitioning (plan-time partition pruning on read-back)."""
    fmt = fmt.lower()
    if fmt == "avro":
        _require_avro(df.sparkSession)
    # Write presets mirror the read presets (a CSV written without a
    # header would lose its first row to the reader's header=true).
    write_defaults: dict[str, dict[str, str]] = {"csv": {"header": "true"}}
    w = (
        df.write.format(fmt)
        .mode(mode)
        .options(**{**write_defaults.get(fmt, {}), **(options or {})})
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def _require_avro(spark: SparkSession) -> None:
    """spark-avro is an external package; fail with an actionable message
    instead of an opaque ClassNotFoundException."""
    try:
        # The real registration check Spark itself performs (a bare class
        # probe is misleading: stub classes ship in sql/core while the
        # data source lives in the external spark-avro module).
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
    except Exception as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "Avro support requires the spark-avro package "
            "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
        ) from exc
