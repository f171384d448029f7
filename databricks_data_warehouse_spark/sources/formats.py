"""Multi-format batch sources/sinks.

The reference reads parquet only (SURVEY.md §2.A: "No JDBC, CSV, JSON,
Kafka, or socket connectors"); Spark provides the rest natively. These
helpers make the non-self-describing formats safe:

- CSV/JSON always round-trip through an EXPLICIT schema — inference is
  both slow at scale (extra full read) and lossy (CSV types, JSON ints
  vs doubles), so it is opt-in, never the default;
- timestamps are written in UTC ISO-8601 (session timezone is UTC);
- readers push filters/projections down exactly like parquet readers
  (CSV/JSON scans still benefit from column pruning on parse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# orc is self-describing like parquet (columnar, embedded schema,
# predicate pushdown via min/max stripes); avro is NOT bundled in
# this Spark build (external spark-avro module) and is rejected
# with the standard unknown-format error rather than stubbed
_FORMATS = ("parquet", "orc", "csv", "json")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", **options) -> None:
    if fmt not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}")
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true").option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
        )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    **options,
) -> DataFrame:
    if fmt not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}")
    if fmt not in ("parquet", "orc") and schema is None:
        raise ValueError(
            f"{fmt} is not self-describing: pass the schema explicitly "
            "(inference costs a second full scan and loses types)"
        )
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true").option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def formats_multiformat_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format source parity, driver-checked (round 12): three
    slices of ``orders`` are round-tripped through ORC (self-
    describing columnar), CSV (explicit schema, ISO dates, header),
    and JSON lines (explicit schema), read back through
    :func:`read_table`, unioned and aggregated — the result must be
    value-exact against plain SQL over the parquet source, proving
    every format preserves BIGINT keys, full-precision doubles
    (shortest-repr round-trip), and dates. The three format copies are
    a scratch fixture, written once per corpus; the read side is the
    production path (pushdown-capable native readers, never schema
    inference)."""
    import os

    from pyspark.sql import functions as F

    from ..queries._util import cents, load
    from ..scratch import inputs, scratch_dir

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    schema = base.schema

    def build(d):
        for i, fmt in enumerate(("orc", "csv", "json")):
            write_table(
                base.where(F.col("o_orderkey") % 3 == i),
                os.path.join(d, fmt),
                fmt,
            )

    root = scratch_dir("fmt", inputs(sf_dir, "orders"), None, build)
    parts = [
        read_table(
            spark, os.path.join(root, fmt), fmt,
            schema=None if fmt == "orc" else schema,
        ).select("o_orderkey", "o_totalprice", "o_orderdate")
        for fmt in ("orc", "csv", "json")
    ]
    from functools import reduce

    df = reduce(DataFrame.unionByName, parts)
    return (
        df.groupBy((F.col("o_orderkey") % 5).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
            F.max("o_orderdate").alias("max_date"),
            F.count_distinct("o_orderkey").alias("n_keys"),
        )
        .orderBy("grp")
    )


def formats_multiformat_scan_oracle() -> str:
    from ..queries._util import cents_sql

    return f"""
        SELECT o_orderkey % 5 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT)
                   AS total_cents,
               MAX(o_orderdate) AS max_date,
               COUNT(DISTINCT o_orderkey) AS n_keys
        FROM orders
        GROUP BY grp ORDER BY grp
    """
