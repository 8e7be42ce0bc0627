"""Raw-file readers for the sales pipeline (reference steps 2-3 parity).

The reference stages local files and COPYes them through per-format FILE
FORMAT objects (/root/reference/Snowflake Worksheets/4. Common Schema.sql:5-23,
step_2_stage_data.py, step_3_load_from_stage_to_source.py). On Spark the
"stage" disappears — files are read in place — and FILE FORMATs become
reader-option presets (SURVEY.md §2.1 S1-S7).

Each shape is written once. ``PAYLOAD`` lists the 16 payload fields in
file order with their FR json types; ``_csv_schema`` and ``_json_schema``
are derived from it. ``FORMATS`` gives, per format, the country directory,
the schema and the reader options. ``sales_glob`` is the one glob a
country's files match, and ``read_sales_files`` reads any of them through
``formats.read_table``. Every format's frame carries the same canonical
names, ``PAYLOAD``'s: the IN csv's headers ``GST``/``Mobile``
(``IN_HEADERS``) are renamed to ``Tax``/``Phone`` at read, so nothing
downstream knows about them.

Ingest detects new files from listed paths, not by parsing every file and
anti-joining its rows against the ledger: ``list_sales_files`` lists the
glob on the driver and gives each file in two forms, the one the ledger
records and compares (``_metadata.file_path``'s, percent-encoded) and the
one the reader takes (unencoded).

- CSV (IN): header, quoted fields with EMBEDDED NEWLINES in addresses →
  ``multiLine=True`` is mandatory (FIXTURES.md §1.1). Note multiLine makes
  CSV non-splittable per FILE — fine for modest date-partitioned files;
  at 100 TB use ``sources.splittable_csv.read_csv_splittable``, the
  two-pass quote-parity record splitter (byte-range tasks, JVM-side
  from_csv parse) proven record-identical to this reader on the real IN
  fixtures (tests/test_splittable_csv.py) and oracle-gated
  (csv_splittable_roundtrip).
- Parquet (US): named columns, snappy.
- JSON (FR): one top-level array per file (``multiLine=True`` ≡ Snowflake
  strip_outer_array); "Price per Unit" arrives as a string (FIXTURES §1.3).
  multiLine JSON is also non-splittable per file — at 100 TB use
  ``sources.splittable_json.read_json_splittable``, the two-pass
  state-transfer element splitter (byte-range tasks, JVM-side from_json
  parse) proven element-identical to this reader on the real FR fixtures
  (tests/test_splittable_json.py) and oracle-gated
  (json_splittable_roundtrip).

File-metadata columns (SURVEY §2.1 S10): Snowflake's metadata$filename /
file_row_number / file_last_modified map to Spark's hidden ``_metadata``
struct plus a per-file row_number window. Column names keep the reference's
typo ``_metadata_row_numer`` (/root/reference/Snowflake Worksheets/
3. Source Tables.sql:48) because downstream DDL uses it.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .formats import read_table

# The 16 payload fields in file order (FIXTURES.md §1.1), each with the type
# the FR json is parsed as: numbers arrive mixed there — Price per Unit is a
# string, Tax a double with float artifacts. The names are the canonical raw
# column names every format's frame carries.
PAYLOAD: tuple[tuple[str, T.DataType], ...] = (
    ("Order ID", T.StringType()),
    ("Customer Name", T.StringType()),
    ("Mobile Model", T.StringType()),
    ("Quantity", T.LongType()),
    ("Price per Unit", T.StringType()),
    ("Total Price", T.LongType()),
    ("Promotion Code", T.StringType()),
    ("Order Amount", T.DoubleType()),
    ("Tax", T.DoubleType()),
    ("Order Date", T.StringType()),
    ("Payment Status", T.StringType()),
    ("Shipping Status", T.StringType()),
    ("Payment Method", T.StringType()),
    ("Payment Provider", T.StringType()),
    ("Phone", T.StringType()),
    ("Delivery Address", T.StringType()),
)

# payload name → its header in the IN csv
IN_HEADERS = {"Tax": "GST", "Phone": "Mobile"}


def _csv_schema() -> T.StructType:
    """IN csv: every field as string under its IN header (positional
    $N::text equivalent, reference step_3_load_from_stage_to_source.py:28-43);
    numeric casts happen in the load select."""
    return T.StructType(
        [T.StructField(IN_HEADERS.get(name, name), T.StringType()) for name, _ in PAYLOAD]
    )


def _json_schema() -> T.StructType:
    """FR json (FIXTURES.md §1.3): the payload table's types."""
    return T.StructType([T.StructField(name, dtype) for name, dtype in PAYLOAD])


class RawFormat(NamedTuple):
    """A FILE FORMAT object (4. Common Schema.sql:5-23) as a reader preset."""

    country: str  # files under sales/source=<country>/format=<fmt>/date=*/
    schema: T.StructType | None  # None: the files' own (parquet)
    options: dict[str, object]
    headers: dict[str, str]  # payload name → file header, renamed at read


FORMATS: dict[str, RawFormat] = {
    "csv": RawFormat(
        "IN",
        _csv_schema(),
        {"header": True, "multiLine": True, "quote": '"', "escape": '"', "mode": "PERMISSIVE"},
        IN_HEADERS,
    ),
    "parquet": RawFormat("US", None, {}, {}),
    "json": RawFormat("FR", _json_schema(), {"multiLine": True, "mode": "PERMISSIVE"}, {}),
}


def with_file_metadata(df: DataFrame) -> DataFrame:
    """Attach the reference's three metadata columns from Spark's hidden
    ``_metadata`` struct. The per-file row number is generated with a
    window over the file path; ordering within a file follows read order
    (exact for multiLine sources, which are read single-split)."""
    df = df.withColumns(
        {
            "_metadata_file_name": F.col("_metadata.file_path"),
            "_metadata_last_modified": F.col("_metadata.file_modification_time").cast(
                "timestamp_ntz"
            ),
        }
    )
    w = Window.partitionBy("_metadata_file_name").orderBy(
        F.monotonically_increasing_id()
    )
    return df.withColumn(
        "_metadata_row_numer", F.row_number().over(w).cast("decimal(38,0)")
    )


def sales_glob(data_root: str, fmt: str) -> str:
    """The glob that one country's raw sales files match."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported sales format {fmt!r}")
    return f"{data_root}/sales/source={FORMATS[fmt].country}/format={fmt}/date=*/*.{fmt}"


def list_sales_files(spark: SparkSession, data_root: str, fmt: str) -> dict[str, str]:
    """The files ``sales_glob`` matches, listed on the driver through the
    session's Hadoop ``FileSystem.globStatus``: no Spark job. Names the
    reader skips (its hidden-file rule: ``_x``, ``.x``) are left out.

    Maps each file's recorded form to its reader form. The recorded form
    is ``Path.toUri().toString()``, exactly ``_metadata.file_path``:
    ``file:/…``, percent-encoded (a space is ``%20``). The reader form is
    ``Path.toString()``, unencoded: the reader encodes the path it is
    given, so the recorded form would be encoded twice. The two differ
    only where a path holds a character that URIs encode."""
    pattern = spark._jvm.org.apache.hadoop.fs.Path(sales_glob(data_root, fmt))
    fs = pattern.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    hidden = spark._jvm.org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName
    listed = {}
    for status in fs.globStatus(pattern) or []:
        path = status.getPath()
        if status.isFile() and not hidden(path.getName()):
            listed[path.toUri().toString()] = path.toString()
    return listed


def read_sales_files(spark: SparkSession, files: str | list[str], fmt: str) -> DataFrame:
    """Parse raw sales files of format ``fmt`` (paths or a glob, in reader
    form) with PERMISSIVE error tolerance (ON_ERROR=CONTINUE parity,
    SURVEY §2.1 S9). Returns the 16 payload fields under their canonical
    names, then the metadata columns. The reader expands glob
    metacharacters (``*?[]{}``) in any path it is given, so a file whose
    name holds one is read as a pattern."""
    f = FORMATS[fmt]
    df = with_file_metadata(read_table(spark, files, fmt, f.schema, f.options))
    return df.withColumnsRenamed({header: name for name, header in f.headers.items()})


def read_sales_raw(spark: SparkSession, data_root: str, fmt: str) -> DataFrame:
    """Read every raw sales file of one country (``sales_glob``)."""
    return read_sales_files(spark, sales_glob(data_root, fmt), fmt)


FOREX_COLUMNS = ["date", "usd2usd", "usd2eu", "usd2can", "usd2uk", "usd2inr", "usd2jp"]


def read_forex_raw(spark: SparkSession, csv_path: str) -> DataFrame:
    """exchange-rate-data.csv: 120 daily rows (FIXTURES.md §1.4)."""
    schema = T.StructType(
        [T.StructField("date", T.DateType())]
        + [T.StructField(c, T.StringType()) for c in FOREX_COLUMNS[1:]]
    )
    return spark.read.schema(schema).options(header=True).csv(csv_path)


def forex_table(spark: SparkSession, csv_path: str, faithful: bool = True) -> DataFrame:
    """The common.exchange_rate load (/root/reference/Snowflake Worksheets/
    5. Forex Exchange Rate.sql:15-29). Faithful mode replicates the loader
    bug: usd2uk/usd2inr/usd2jp are all read from column $4 — the CAD rate
    (5. Forex:23-25; SURVEY §2.11.1). Corrected mode maps columns properly.
    """
    raw = read_forex_raw(spark, csv_path)
    # Storage type per the table DDL (decimal(10,7), 5. Forex:7-12). The
    # loader's TO_DECIMAL(x,12,10) intermediate would overflow for JPY
    # (133.17…) — only the $4 bug makes it fit in the reference; casting
    # straight to the storage type keeps both profiles loadable.
    src = {c: c for c in FOREX_COLUMNS[1:]}
    if faithful:
        src.update(dict.fromkeys(["usd2uk", "usd2inr", "usd2jp"], "usd2can"))
    return raw.select(
        F.col("date"), *[F.col(v).cast("decimal(10,7)").alias(k) for k, v in src.items()]
    )
