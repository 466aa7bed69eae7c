"""Catalog: load the synthetic test tables and register temp views.

Mirrors the reference's "combined scan + validation" entry point
(daxos/read.py:99-110 ``read_ml``): one call that makes every table of a
dataset available, lazily.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The harness parquet stores timestamps as TIMESTAMP(NANOS), which the
# Spark parquet reader rejects; with the nanosAsLong legacy conf they
# arrive as int64 nanoseconds and are restored to timestamps here (the
# data is microsecond-aligned, verified at ingest, so micros == nanos).
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _open_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # integer div, NOT double: int64 nanos (~1.7e18) exceed
            # double's 2^53 exact range, so `/ 1000` would be ±1µs off
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


class _Tables(Mapping):
    """The tables of one sf_dir, each opened on its first lookup.

    Opening a table costs a footer read, schema inference and one Spark
    job; a query reads one or two of the ten, so opening them all up
    front was fixed overhead on every first call in a session."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self._spark, self._sf_dir = spark, sf_dir
        self._open: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(name)
        if name not in self._open:
            self._open[name] = _open_table(self._spark, self._sf_dir, name)
        return self._open[name]

    def __contains__(self, name: object) -> bool:
        return name in TABLES

    def __iter__(self) -> Iterator[str]:
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


# (applicationId, sf_dir) → tables. Every query calls load_tables, so
# without the cache a 30-query bench would reopen its tables per query.
# DataFrames are immutable lazy plans — reuse across queries is free
# and safe.
_CACHE: dict[tuple[str, str], _Tables] = {}


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> Mapping[str, DataFrame]:
    """The parquet tables under ``sf_dir`` as a read-only mapping (cached
    per session+dir); a table is opened on its first lookup.

    Pure ``spark.read.parquet`` — scans stay lazy (Catalyst prunes
    columns and pushes filters into the parquet reader), the analogue of
    the reference's lazy dask-over-h5py arrays (daxos/read.py:113-124).
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CACHE:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _CACHE[key] = _Tables(spark, sf_dir)
    return _CACHE[key]


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> Mapping[str, DataFrame]:
    """load_tables + createOrReplaceTempView for each table."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
