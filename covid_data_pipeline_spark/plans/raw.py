"""raw layer: land one day's CSV as schema-conformed rows.

Reference: process_covid_raw.py — CSV scan → normalize_to_target_schema →
audit columns → append to raw.daily_reports partitioned by Country_Region
with a partition-local sort (:89-113).

Scale notes: the reference partitions raw by ``Country_Region`` but the
downstream ODS filter is on the *derived* report_date, forcing a full raw
scan every day (SURVEY.md §4 wart). We additionally materialize
``ingest_date`` (from the source path) as a partition column so the daily
ODS read prunes to one partition — at 100 TB that is the difference
between scanning one day and scanning three years.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.conform import conform
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.sources.readers import read_csv
from covid_data_pipeline_spark.sources.writers import Warehouse

DATE_IN_PATH = r"(\d{4}-\d{2}-\d{2})"


def normalize_raw(df: DataFrame) -> DataFrame:
    """Conform an arbitrary-epoch JHU daily CSV to the 14-field target
    schema (rename-sanitize, alias resolve, 3-format timestamp parse,
    typed NULL fill — reference process_covid_raw.py:23-59)."""
    return conform(
        df,
        S.TARGET_RAW_SCHEMA,
        aliases=S.RAW_ALIASES,
        timestamp_formats=S.RAW_TIMESTAMP_FORMATS,
    )


def with_audit_columns(df: DataFrame, source_file: str) -> DataFrame:
    """source_file + ingestion_ts audit columns (reference
    process_covid_raw.py:96-98) plus the engine's ingest_date partition
    column derived from the path."""
    return (
        df.withColumn("source_file", F.lit(source_file))
        .withColumn("ingestion_ts", F.current_timestamp())
        .withColumn(
            "ingest_date",
            F.to_date(F.regexp_extract(F.lit(source_file), DATE_IN_PATH, 1)),
        )
    )


def process_raw(
    spark: SparkSession,
    wh: Warehouse,
    csv_path: str,
    source_file: str | None = None,
) -> DataFrame:
    """Land one day's CSV into raw.daily_reports, overwriting the day's
    ingest_date partition: re-landing a day replaces it instead of
    doubling it."""
    source_file = source_file or csv_path
    df = read_csv(spark, csv_path, header=True, infer_schema=True)
    out = with_audit_columns(normalize_raw(df), source_file)
    # Partition by ingest_date for downstream pruning; sort within
    # partitions by country for parquet RLE/dictionary efficiency
    # (reference sorts by Country_Region before write, :102).
    wh.overwrite_partitions(
        out,
        S.RAW_TABLE,
        partition_by=["ingest_date"],
        sort_within_partitions_by=["Country_Region"],
    )
    return out
