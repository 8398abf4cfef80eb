"""Schema'd readers and writers.

Covers the reference's I/O surface (SURVEY.md §2.1):
- CSV scan with explicit schema + date parsing (kaggle/kaggle.py:344-353)
- CSV sink (kaggle/kaggle.py:411,859)
- HDFS/S3/file URIs come free from Spark's Hadoop FS layer (the whole
  of reference hadoop.md collapses into a URI scheme here).

Parquet is the primary format for the driver testdata (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan; pass ``columns`` to make the projection explicit
    (Catalyst prunes the parquet ReadSchema either way once a select
    reaches the scan)."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    date_format: str | None = None,
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV scan with an explicit schema — never ``inferSchema`` in a
    production path (the reference's own ``dtype=`` argument is the
    precedent, kaggle/kaggle.py:346-351; inference costs a full extra
    pass over 100 TB)."""
    reader = spark.read.schema(schema).option("header", str(header).lower())
    if date_format:
        reader = reader.option("dateFormat", date_format)
    if timestamp_format:
        # NTZ timestamps are driven by a separate option — set both so
        # the declared format wins regardless of the column's TZ flavor
        reader = reader.option("timestampFormat", timestamp_format).option(
            "timestampNTZFormat", timestamp_format
        )
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON-lines scan with an explicit schema (same no-inference rule as
    ``read_csv``). With ``corrupt_col``, reads PERMISSIVE: malformed
    lines land whole in that string column instead of failing the job —
    the production posture for web-scraped JSONL, where one broken line
    must not kill a 100 TB scan."""
    if corrupt_col:
        schema = T.StructType([*schema.fields, T.StructField(corrupt_col, T.StringType())])
        return (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .json(path)
        )
    return spark.read.schema(schema).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` enables partition pruning for
    downstream readers (the scale-path replacement for the reference's
    single-CSV outputs)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv_single(df: DataFrame, path: str, header: bool = True) -> None:
    """Single-file CSV sink (reference ``to_csv`` parity,
    kaggle/kaggle.py:859). ``coalesce(1)`` funnels through one task —
    correct for a submission-file-sized result, wrong for bulk data;
    use ``write_parquet`` for anything large."""
    df.coalesce(1).write.mode("overwrite").option("header", str(header).lower()).csv(path)
