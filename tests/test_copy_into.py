"""COPY INTO (Databricks landing-zone load): file-granular exactly-once
— the loaded-file ledger commits atomically with the rows, re-runs
no-op, racing loads conflict, FORCE reloads intentionally."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.sql_dml import SqlSession
from databricks_data_warehouse_spark.sources.tables import (
    ConcurrentWriteError,
    ManagedTable,
)

_SCHEMA = StructType(
    [StructField("k", LongType()), StructField("s", StringType())]
)


def _land(spark, root, name, lo, hi):
    """One immutable landing file (single parquet under root/name)."""
    d = os.path.join(root, name)
    spark.range(lo, hi).select(
        F.col("id").alias("k"), F.concat(F.lit("s"), F.col("id")).alias("s")
    ).coalesce(1).write.mode("overwrite").parquet(d)


@pytest.fixture()
def landing(spark, tmp_path):
    root = str(tmp_path / "landing")
    _land(spark, root, "batch1", 0, 100)
    _land(spark, root, "batch2", 100, 250)
    return root


@pytest.fixture()
def table(spark, tmp_path):
    t = ManagedTable(spark, "cp", str(tmp_path / "cp"), schema=_SCHEMA)
    t.create_if_not_exists()
    return t


def test_initial_load_and_idempotent_rerun(spark, table, landing):
    res = table.copy_into(landing)
    assert res["rows_loaded"] == 250 and res["files_loaded"] >= 2
    assert table.read().count() == 250
    v = table.current_version()
    res2 = table.copy_into(landing)  # re-run: free no-op, no commit
    assert res2 == {"version": v, "files_loaded": 0, "rows_loaded": 0}
    assert table.read().count() == 250


def test_only_new_files_load(spark, table, landing):
    table.copy_into(landing)
    _land(spark, landing, "batch3", 250, 300)
    res = table.copy_into(landing)
    assert res["rows_loaded"] == 50
    assert table.read().count() == 300
    got = sorted(r.k for r in table.read().select("k").collect())
    assert got == list(range(300))  # no duplicates


def test_force_reloads(spark, table, landing):
    table.copy_into(landing)
    res = table.copy_into(landing, force=True)
    assert res["rows_loaded"] == 250
    assert table.read().count() == 500  # duplicates by request


def test_pattern_scopes_the_load(spark, table, landing):
    res = table.copy_into(landing, pattern="batch1/*")
    assert res["rows_loaded"] == 100
    assert table.read().count() == 100


def test_racing_copy_conflicts_and_retry_noops(spark, table, landing):
    import glob

    files = sorted(
        glob.glob(os.path.join(landing, "*", "*.parquet"))
    )
    df = spark.read.parquet(*files).select("k", "s")
    adds = {f: [1, 1] for f in files}
    # writer B lands the same files first through another handle
    other = ManagedTable(spark, "cp", table.location, schema=_SCHEMA)
    other.copy_into(landing)
    # writer A, holding a stale ledger diff, must conflict
    with pytest.raises(ConcurrentWriteError, match="COPY'd by a concurrent"):
        table._stage_and_commit(
            df,
            replace_all=False,
            append_only=True,
            op="COPY INTO",
            copy_files_add=adds,
            copy_files_guard=list(adds),
        )
    # the public retry re-diffs: no-op, no duplicate rows
    res = table.copy_into(landing)
    assert res["files_loaded"] == 0
    assert table.read().count() == 250


def test_generated_and_identity_compose(spark, tmp_path, landing):
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("s", StringType()),
            StructField("tag", StringType()),
            StructField("uid", LongType()),
        ]
    )
    t = ManagedTable(spark, "cpg", str(tmp_path / "cpg"), schema=schema)
    t.set_generated_column("tag", "substring(s, 1, 2)")
    t.set_identity_column("uid", start=1)
    t.create_if_not_exists()
    t.copy_into(landing)
    got = t.read()
    assert got.count() == 250
    assert got.filter(~F.col("tag").eqNullSafe(
        F.expr("substring(s, 1, 2)"))).count() == 0
    agg = got.agg(
        F.min("uid"), F.max("uid"), F.countDistinct("uid")
    ).collect()[0]
    assert tuple(agg) == (1, 250, 250)


def test_sql_copy_into(spark, tmp_path, table, landing):
    s = SqlSession(spark)
    s.register(table, "cp")
    r = s.sql(
        f"COPY INTO cp FROM '{landing}' FILEFORMAT = PARQUET"
    ).collect()[0]
    assert r.num_rows_loaded == 250 and r.num_files_loaded >= 2
    r2 = s.sql(
        f"COPY INTO cp FROM '{landing}' FILEFORMAT = PARQUET"
    ).collect()[0]
    assert r2.num_rows_loaded == 0
    assert s.sql("SELECT count(*) AS n FROM cp").collect()[0].n == 250


def test_csv_load_casts_to_table_schema(spark, tmp_path, table):
    """CSV inference yields its own types; COPY INTO casts to the TABLE
    schema (Databricks behavior), so a csv landing zone round-trips."""
    import csv

    land = tmp_path / "csvland"
    land.mkdir()
    with open(land / "a.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["k", "s"])
        for i in range(10):
            w.writerow([i, f"s{i}"])
    res = table.copy_into(str(land), file_format="csv")
    assert res["rows_loaded"] == 10
    got = table.read()
    assert dict(got.dtypes) == {"k": "bigint", "s": "string"}
    assert sorted(r.k for r in got.collect()) == list(range(10))
    # re-run: ledger no-op for csv too
    assert table.copy_into(str(land), file_format="csv")["rows_loaded"] == 0


def test_copy_into_feeds_a_streaming_consumer(spark, tmp_path, landing):
    """The landing-zone end-to-end: files → COPY INTO (append commits)
    → streaming FROM the table. Each COPY's rows arrive exactly once;
    a ledger no-op produces no batch; a new landed file flows through."""
    t = ManagedTable(spark, "cps", str(tmp_path / "cps"), schema=_SCHEMA)
    t.create_if_not_exists()
    t.copy_into(landing)

    def drain():
        q = (
            t.read_stream()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 250
    t.copy_into(landing)  # ledger no-op: nothing new to stream
    drain()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 250
    _land(spark, landing, "batch3", 250, 260)
    t.copy_into(landing)
    drain()
    final = spark.read.parquet(str(tmp_path / "out"))
    assert final.count() == 260
    assert sorted(r.k for r in final.collect()) == list(range(260))


def test_merge_schema_evolves_and_null_fills(spark, tmp_path, table, landing):
    table.copy_into(landing)
    # a later landing batch carries a NEW column
    d = os.path.join(landing, "batch_extra")
    spark.range(250, 260).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit("eu").alias("region"),
    ).coalesce(1).write.mode("overwrite").parquet(d)
    res = table.copy_into(landing, merge_schema=True)
    assert res["rows_loaded"] == 10
    got = table.read()
    assert got.count() == 260
    assert dict(got.dtypes)["region"] == "string"
    # old rows null-fill the appended column; new rows carry it
    assert got.filter(F.col("region").isNull()).count() == 250
    assert got.filter(F.col("region") == "eu").count() == 10


def test_without_merge_schema_extra_columns_project_away(
    spark, tmp_path, table, landing
):
    """Without mergeSchema, extra source columns are PROJECTED to the
    table schema (the `COPY INTO t FROM (SELECT …)` ergonomic baked
    in — table_copy_into relies on it); the table never widens."""
    d = os.path.join(landing, "wide")
    spark.range(500, 505).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit("junk").alias("extra"),
    ).coalesce(1).write.mode("overwrite").parquet(d)
    res = table.copy_into(landing)
    assert res["rows_loaded"] == 255
    assert dict(table.read().dtypes) == {"k": "bigint", "s": "string"}


def test_sql_copy_options_merge_schema(spark, tmp_path, table, landing):
    s = SqlSession(spark)
    s.register(table, "cp")
    s.sql(f"COPY INTO cp FROM '{landing}' FILEFORMAT = PARQUET")
    d = os.path.join(landing, "widened")
    spark.range(300, 310).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit(1.5).alias("w"),
    ).coalesce(1).write.mode("overwrite").parquet(d)
    r = s.sql(
        f"COPY INTO cp FROM '{landing}' FILEFORMAT = PARQUET "
        f"COPY_OPTIONS ('mergeSchema' = 'true')"
    ).collect()[0]
    assert r.num_rows_loaded == 10
    assert "w" in dict(s.sql("SELECT * FROM cp").dtypes)


def test_json_format_round_trip(spark, tmp_path, table):
    import json as _json

    land = tmp_path / "jsonland"
    land.mkdir()
    with open(land / "a.json", "w") as f:
        for i in range(5):
            f.write(_json.dumps({"k": i, "s": f"s{i}"}) + "\n")
    res = table.copy_into(str(land), file_format="json")
    assert res["rows_loaded"] == 5
    assert dict(table.read().dtypes) == {"k": "bigint", "s": "string"}
    assert table.copy_into(str(land), file_format="json")["rows_loaded"] == 0


def test_failed_copy_commit_does_not_poison_the_ledger(spark, table, landing):
    """Round-12 review: a COPY attempt that merged its adds into the
    handle's in-memory ledger and then LOST the version race must not
    make the retry no-op — the retry re-diffs against the COMMITTED
    ledger, so the never-loaded files load on attempt 2 (the opposite
    case — a concurrent writer genuinely COPY'd the same files — still
    no-ops via the committed ledger)."""
    other = ManagedTable(spark, "cp", table.location, schema=_SCHEMA)

    # a rename changes column mapping: the blind-append rebase
    # refuses, so the loser's commit FAILS (not rebases)
    with race(
        table, lambda: other.rename_column("s", "s2")
    ) as fired, pytest.raises(ConcurrentWriteError):
        table.copy_into(landing)
    assert fired
    # the failed attempt must not have recorded its files as loaded
    res = table.copy_into(landing)
    assert res["files_loaded"] == 2
    assert table.read().count() == 250
