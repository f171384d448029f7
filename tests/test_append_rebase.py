"""Delta's logical conflict rule for blind appends: an append stages
new entries only, so it NEVER conflicts — on a version-claim collision
it rebases onto the winner and retries, reusing its already-staged
data files. Non-blind commits keep first-writer-wins. The pointer file
becomes a hint (current_version rolls forward past it), so a loser's
lagging pointer write can't hide a winner's commit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.tables import (
    ConcurrentWriteError,
    ManagedTable,
)


def test_concurrent_appends_both_succeed(spark, tmp_path):
    loc = str(tmp_path / "t")
    t0 = ManagedTable(spark, "t", loc)
    t0.overwrite(spark.createDataFrame([(1,)], "k long"))  # v0
    t1 = ManagedTable(spark, "t", loc)
    t2 = ManagedTable(spark, "t", loc)
    with race(
        t1, lambda: t2.append(spark.createDataFrame([(2,)], "k long"))
    ) as fired:
        v = t1.append(spark.createDataFrame([(3,)], "k long"))  # rebases
    assert fired
    assert v == 2  # racer took v1, the rebase landed v2
    assert sorted(r.k for r in t1.read().collect()) == [1, 2, 3]


def test_append_rebases_over_concurrent_rewrite(spark, tmp_path):
    """A blind append doesn't conflict even with a DELETE rewrite
    racing it — the append lands on top of the winner's state."""
    loc = str(tmp_path / "tr")
    t0 = ManagedTable(spark, "tr", loc)
    t0.overwrite(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    )
    t1 = ManagedTable(spark, "tr", loc)
    t2 = ManagedTable(spark, "tr", loc)
    with race(
        t2,
        lambda: t1.delete_where(F.col("k") == 1, deletion_vectors=False),
    ) as fired:
        t2.append(spark.createDataFrame([(9, 9.0)], "k long, v double"))
    assert fired
    assert sorted(r.k for r in t2.read().collect()) == [2, 9]


def test_non_blind_commit_keeps_first_writer_wins(spark, tmp_path):
    """A merge (rewrites entries) must still raise on the race."""
    loc = str(tmp_path / "tm")
    t0 = ManagedTable(spark, "tm", loc)
    t0.overwrite(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    )
    t1 = ManagedTable(spark, "tm", loc)
    t2 = ManagedTable(spark, "tm", loc)
    with race(
        t1,
        lambda: t2.append(
            spark.createDataFrame([(9, 9.0)], "k long, v double")
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        t1.merge_upsert(
            spark.createDataFrame([(1, 100.0)], "k long, v double"), ["k"]
        )
    assert fired
    # winner's append is intact; loser's merge staged nothing visible
    assert sorted(r.k for r in t2.read().collect()) == [1, 2, 9]


def test_append_race_against_schema_change_raises(spark, tmp_path):
    """A CREATE OR REPLACE changing the schema IS a conflict for the
    racing append (its staged files carry the old layout)."""
    loc = str(tmp_path / "ts")
    t0 = ManagedTable(spark, "ts", loc)
    t0.overwrite(spark.createDataFrame([(1,)], "k long"))
    t1 = ManagedTable(spark, "ts", loc)
    t2 = ManagedTable(spark, "ts", loc)

    def replace():
        # CREATE OR REPLACE resets the handle's schema first (the
        # SqlSession caller does this) — mirror it here
        t2.schema = None
        t2.replace_table_content(
            spark.createDataFrame([("a", 1)], "s string, n long")
        )

    with race(t1, replace) as fired, pytest.raises(ConcurrentWriteError):
        t1.append(spark.createDataFrame([(3,)], "k long"))
    assert fired
    assert {tuple(r) for r in t2.read().collect()} == {("a", 1)}


def test_racing_copy_into_same_files_still_conflicts(spark, tmp_path):
    """Two COPY INTOs claiming the SAME source files: the loser must
    raise (re-diff), never double-load via a rebase."""
    src = str(tmp_path / "land")
    spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1)\
        .write.parquet(src)
    loc = str(tmp_path / "tc")
    from pyspark.sql.types import LongType, StructField, StructType

    t0 = ManagedTable(spark, "tc", loc)
    t0.create_if_not_exists(StructType([StructField("k", LongType())]))
    t1 = ManagedTable(spark, "tc", loc)
    t2 = ManagedTable(spark, "tc", loc)
    with race(t1, lambda: t2.copy_into(src)) as fired, pytest.raises(
        ConcurrentWriteError
    ):
        t1.copy_into(src)
    assert fired
    assert t2.read().count() == 10  # loaded exactly once
    # the standard recovery: re-run re-diffs to a no-op
    t3 = ManagedTable(spark, "tc", loc)
    r = t3.copy_into(src)
    assert r["files_loaded"] == 0 and t3.read().count() == 10


def test_racing_copy_into_disjoint_files_rebases(spark, tmp_path):
    """Two COPY INTOs on DISJOINT files are blind appends to each
    other — both land."""
    src1 = str(tmp_path / "l1")
    src2 = str(tmp_path / "l2")
    spark.range(0, 5).select(F.col("id").alias("k")).coalesce(1)\
        .write.parquet(src1)
    spark.range(5, 9).select(F.col("id").alias("k")).coalesce(1)\
        .write.parquet(src2)
    loc = str(tmp_path / "td")
    from pyspark.sql.types import LongType, StructField, StructType

    t0 = ManagedTable(spark, "td", loc)
    t0.create_if_not_exists(StructType([StructField("k", LongType())]))
    t1 = ManagedTable(spark, "td", loc)
    t2 = ManagedTable(spark, "td", loc)
    with race(t1, lambda: t2.copy_into(src2)) as fired:
        r = t1.copy_into(src1)
    assert fired and r["files_loaded"] == 1
    assert sorted(x.k for x in t1.read().collect()) == list(range(9))


def test_pointer_is_a_hint_current_version_rolls_forward(spark, tmp_path):
    """A claimed manifest past the pointer is a committed version (the
    claim is the commit decision; data is staged before it)."""
    import shutil as sh
    import os

    loc = str(tmp_path / "tp")
    t = ManagedTable(spark, "tp", loc)
    t.overwrite(spark.createDataFrame([(1,)], "k long"))  # v0
    t.append(spark.createDataFrame([(2,)], "k long"))     # v1
    # simulate a crashed writer: regress the pointer to v0
    with open(os.path.join(loc, "_LATEST.tmp2"), "w") as f:
        f.write("0")
    os.replace(os.path.join(loc, "_LATEST.tmp2"),
               os.path.join(loc, "_LATEST"))
    assert t.current_version() == 1  # rolled forward past the hint
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_append_rebase_chain_of_collisions(spark, tmp_path):
    """A single append that loses the claim FOUR times in a row (a
    fresh competitor commits before each retry) still lands exactly
    once, on the version after the last winner."""
    loc = str(tmp_path / "tc4")
    t0 = ManagedTable(spark, "tc4", loc)
    t0.overwrite(spark.createDataFrame([(0,)], "k long"))  # v0
    victim = ManagedTable(spark, "tc4", loc)

    def racer(n):
        return lambda: ManagedTable(spark, "tc4", loc).append(
            spark.createDataFrame([(100 + n,)], "k long")
        )

    with race(victim, *(racer(n) for n in range(1, 5))) as fired:
        v = victim.append(spark.createDataFrame([(9,)], "k long"))
    assert len(fired) == 4
    assert v == 5  # four winners took v1-v4; the victim landed v5
    got = sorted(r.k for r in victim.read().collect())
    assert got == [0, 9, 101, 102, 103, 104]
