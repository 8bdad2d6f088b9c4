"""Fixture-table catalog.

The reference treats one ORC file as its table (orc-parser/reader.cc:34).
Here the catalog abstracts "directory of columnar files" → named
DataFrames, schema discovered from file footers exactly as the reference
reads the ORC footer (reader.cc:37-44) — no schema is ever declared in
code.

At 100 TB these would be partitioned directories (or Iceberg/Delta
tables); the loader is path-based so nothing changes except the path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pim_orc_spark.fsutil import versioned_memo
from pim_orc_spark.session import ensure_parity_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP (session tz, pinned UTC) no
    matter how the fixture stored it. Shared by the batch loader and the
    streaming source (same parquet files). Two storage forms seen across
    fixture generations:

    - int64 TIMESTAMP(NANOS): the nanosAsLong read path hands us raw
      nanoseconds; floor to microseconds — identical to DuckDB's
      nanos→micros truncation.
    - TIMESTAMP(MICROS) with isAdjustedToUTC=false: inferTimestampNTZ
      reads it as TIMESTAMP_NTZ; cast to TIMESTAMP interprets the naive
      value in the session tz (UTC) — the same instant DuckDB's naive
      ``epoch()`` arithmetic produces, and downstream epoch casts
      (``cast(ts as long)``, ``unix_micros``) need the instant type.
    """
    dtype = dict(df.dtypes).get("ts")
    from pyspark.sql import functions as F

    if dtype == "bigint":
        # Integer division: `/` would promote the int64 nanos to double,
        # whose 53-bit mantissa cannot hold a 2024 epoch-nanos value —
        # the result is occasionally off by 1µs vs DuckDB's exact
        # truncation.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Resolved-schema cache: absolute path → (table_version, StructType). A
# table's schema is immutable per file generation, but the bare
# ``spark.read.parquet(path)`` re-infers it from the footer on EVERY
# call — ~97 ms/table measured at r16, paid by every query
# construction (up to 6× for the deep join trees). Passing the cached
# schema to an explicit ``read.schema(...)`` reader costs ~15 ms and
# still builds a FRESH plan with fresh expression ids per call (so
# two loads of one table keep behaving as distinct relations — a
# shared-plan cache broke cogroup's two nation-ranked sides with an
# ambiguous-self-join analysis error). This is what a production
# catalog does: schema resolved once at registration, not per query.
# The table_version key invalidates on fixture regeneration
# (fsutil.versioned_memo). The batch catalog and the stream source (a
# stream must declare its schema up front) share it through
# ``parquet_schema``.
_SCHEMA_CACHE: dict[str, tuple[int, StructType]] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The footer schema of the parquet table at ``path``, read once
    per file generation."""
    path = os.path.abspath(path)
    # table_version stats a directory table's part files too: an
    # in-place part-file rewrite moves only the file's mtime, and a
    # stale schema served to read.schema() would surface as nulls or
    # an analysis error.
    return versioned_memo(
        _SCHEMA_CACHE, path, lambda: spark.read.parquet(path).schema
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_parity_confs(spark)
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register every fixture table as a temp view so the full engine
    surface is reachable through plain ``spark.sql(...)`` — the same
    table names the DuckDB oracle uses, so any oracle SQL in this repo
    is also directly runnable against Spark."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
