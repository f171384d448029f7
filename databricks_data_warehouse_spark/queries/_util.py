"""Shared helpers for the query layer."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..signature import source_signature

# Session confs that change what parquet schema inference returns for
# the same files (e.g. nanosAsLong turns TIMESTAMP(NANOS) into bigint
# instead of failing).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO: dict[tuple, StructType] = {}
_SCHEMA_MEMO_MAX = 256


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized
    per process.

    Inference is a one-task Spark job per read (99–138 ms for a
    single-file read against 17–32 ms with the schema given, 4-core
    host). The memo keys on :func:`source_signature` — names, sizes,
    mtimes and footer hashes — plus the confs that change inference,
    so a rewritten file or a flipped conf is inferred afresh, and the
    first read of each file still pays for it. A path that cannot be
    fingerprinted (missing, remote) reads without the memo.
    """
    try:
        sig = source_signature(path)
    except OSError:
        return spark.read.parquet(path)
    key = (sig,) + tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
        for k in list(_SCHEMA_MEMO)[: _SCHEMA_MEMO_MAX // 2]:
            del _SCHEMA_MEMO[k]
    _SCHEMA_MEMO[key] = df.schema
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one synthetic table (TESTDATA.md).

    A plain parquet read (:func:`read_parquet`) → vectorized reader,
    predicate pushdown and column pruning all apply; callers ``select``
    the columns they need right away so ReadSchema stays minimal.

    ``events.ts`` is stored as TIMESTAMP(NANOS), which Spark reads as a
    nanosecond long under ``spark.sql.legacy.parquet.nanosAsLong``;
    convert to a microsecond timestamp here (integer div — no double
    round-trip, nanos exceed 2^53).
    """
    if name == "events":
        # set defensively at runtime: the DRIVER's SparkSession (which
        # calls queries() entries) does not carry our session factory's
        # config, and without this flag the nanos read hard-fails with
        # PARQUET_TYPE_ILLEGAL (verified on a bare local session).
        # UTC likewise: event-time windowing/year() interpret TIMESTAMP
        # in session tz, and the DuckDB oracle is tz-free.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # micro-precision parquet (e.g. written by another engine)
            # arrives as TIMESTAMP_NTZ, which event-time watermarking
            # rejects; the values are UTC wall-clock and the session tz
            # is UTC, so the cast is instant-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def rnd(col: Column, decimals: int = 2) -> Column:
    """Cross-engine-deterministic rounding: floor(x·10ⁿ + 0.5)/10ⁿ.

    Spark's ROUND rounds the *shortest decimal repr* of a double
    (BigDecimal.valueOf) while DuckDB rounds the exact binary value —
    they disagree whenever the shortest repr lands on .xx5 (common for
    exact integer ratios like 179/40). This explicit IEEE expression is
    bit-identical in any engine given identical input.
    """
    scale = 10 ** decimals
    return F.floor(col * scale + F.lit(0.5)) / scale


def rnd_sql(expr: str, decimals: int = 2) -> str:
    """DuckDB twin of :func:`rnd` — keep both in sync."""
    scale = 10 ** decimals
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def cents(col: Column) -> Column:
    """Exact integer representation of a 2-decimal double (money columns
    in the testdata are all 2dp). Integer sums/products are then exact
    and engine-independent — no float-summation-order hazard at all.
    """
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def cents_sql(expr: str) -> str:
    """DuckDB twin of :func:`cents`."""
    return f"CAST(floor(({expr}) * 100 + 0.5) AS BIGINT)"
