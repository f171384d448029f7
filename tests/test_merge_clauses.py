"""Delta's full conditional MERGE grammar — ordered clauses,
conditions, column-list INSERT, and WHEN NOT MATCHED BY SOURCE (the
snapshot-sync shape).

Pins first-true-clause-fires ordering, NULL conditions counting as not
fired, unnamed insert columns becoming NULL, the multiple-source-match
error, carry-over of rows no clause fires on, and that the legacy
unconditional combos still take the specialized primitives (history op
names prove the route).
"""

import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.sql_dml import SqlSession
from databricks_data_warehouse_spark.sources.tables import ManagedTable


def _mk(spark, tmp_path, rows=((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))):
    t = ManagedTable(spark, "t", str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(list(rows), "k long, s string, v double"))
    return t


def _src(spark, rows):
    return spark.createDataFrame(list(rows), "k long, s string, v double")


def _state(t):
    return {
        r["k"]: (r["s"], r["v"])
        for r in t.read().collect()
    }


def test_by_source_delete_syncs_snapshot(spark, tmp_path):
    """MATCHED UPDATE + NOT MATCHED INSERT + BY SOURCE DELETE = make
    target equal source."""
    t = _mk(spark, tmp_path)
    src = _src(spark, [(2, "B", 200.0), (4, "d", 40.0)])
    t.merge_clauses(
        src,
        ["k"],
        matched=[(None, {"s": "src.s", "v": "src.v"})],
        not_matched=[(None, "insert_all")],
        not_matched_by_source=[(None, "delete")],
    )
    assert _state(t) == {2: ("B", 200.0), 4: ("d", 40.0)}


def test_by_source_update_with_condition(spark, tmp_path):
    """Only target-only rows matching the condition are touched."""
    t = _mk(spark, tmp_path)
    src = _src(spark, [(1, "A", 100.0)])
    t.merge_clauses(
        src,
        ["k"],
        matched=[(None, {"v": "src.v"})],
        not_matched_by_source=[("v >= 30", {"s": "'stale'"})],
    )
    assert _state(t) == {1: ("a", 100.0), 2: ("b", 20.0), 3: ("stale", 30.0)}


def test_clause_order_first_true_fires(spark, tmp_path):
    """Two matched clauses: the first one whose condition holds wins."""
    t = _mk(spark, tmp_path)
    src = _src(spark, [(1, "x", 1.0), (2, "x", 1.0)])
    t.merge_clauses(
        src,
        ["k"],
        matched=[
            ("v < 15", "delete"),
            (None, {"s": "'updated'"}),
        ],
    )
    # k=1 (v=10) deleted by clause 0; k=2 (v=20) updated by clause 1
    assert _state(t) == {2: ("updated", 20.0), 3: ("c", 30.0)}


def test_null_condition_is_not_fired(spark, tmp_path):
    """A NULL condition (NULL comparison) fires nothing — the row
    carries over."""
    t = ManagedTable(spark, "t", str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, None, 10.0)], "k long, s string, v double")
    )
    src = _src(spark, [(1, "z", 0.0)])
    t.merge_clauses(src, ["k"], matched=[("s = 'a'", "delete")])
    assert _state(t) == {1: (None, 10.0)}


def test_insert_map_unnamed_columns_null(spark, tmp_path):
    """Column-list INSERT: unnamed target columns become NULL."""
    t = _mk(spark, tmp_path)
    src = _src(spark, [(9, "new", 90.0)])
    t.merge_clauses(
        src,
        ["k"],
        not_matched=[(None, {"k": "src.k", "v": "src.v + 1"})],
    )
    assert _state(t)[9] == (None, 91.0)


def test_conditional_insert_drops_nonmatching(spark, tmp_path):
    t = _mk(spark, tmp_path)
    src = _src(spark, [(8, "hi", 80.0), (9, "lo", 5.0)])
    t.merge_clauses(src, ["k"], not_matched=[("src.v > 50", "insert_all")])
    st = _state(t)
    assert 8 in st and 9 not in st


def test_duplicate_source_keys_raise(spark, tmp_path):
    t = _mk(spark, tmp_path)
    src = _src(spark, [(1, "x", 1.0), (1, "y", 2.0)])
    with pytest.raises(ValueError, match="multiple matches"):
        t.merge_clauses(src, ["k"], matched=[(None, "delete")])


def test_sql_full_grammar_snapshot_sync(spark, tmp_path):
    """The SQL spelling end-to-end, with aliases and all three clause
    classes."""
    t = _mk(spark, tmp_path)
    sess = SqlSession(spark)
    sess.register(t)
    _src(spark, [(2, "B", 200.0), (4, "d", 40.0)]).createOrReplaceTempView(
        "snap"
    )
    sess.sql(
        "MERGE INTO t AS tg USING snap AS s ON tg.k = s.k "
        "WHEN MATCHED AND tg.v < 100 THEN UPDATE SET s = s.s, v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v) "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert _state(t) == {2: ("B", 200.0), 4: ("d", 40.0)}
    assert t.history()[0]["operation"] == "MERGE"


def test_sql_conditional_matched_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    sess = SqlSession(spark)
    sess.register(t)
    _src(spark, [(1, "x", 0.0), (3, "x", 0.0)]).createOrReplaceTempView(
        "batch2"
    )
    sess.sql(
        "MERGE INTO t USING batch2 ON t.k = batch2.k "
        "WHEN MATCHED AND t.v < 15 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET s = 'kept'"
    )
    assert _state(t) == {2: ("b", 20.0), 3: ("kept", 30.0)}


def test_sql_legacy_combo_unified_route_stays_partition_scoped(spark, tmp_path):
    """Unconditional UPDATE SET * + INSERT * routes through the unified
    merge_clauses engine (history op MERGE — the r12 routing unification,
    sql_dml.py) AND keeps the property the old specialized route
    guaranteed: a partition-scoped SQL upsert leaves untouched
    partitions' files byte-identical (carried manifest entries)."""
    t = ManagedTable(spark, "t", str(tmp_path / "tp"), partition_columns=["g"])
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("g"),
        F.lit(1.0).alias("v"),
    )
    t.overwrite(df)
    sess = SqlSession(spark)
    sess.register(t)
    spark.createDataFrame(
        [(1, 1, 99.0), (1000, 1, 50.0)], "k long, g long, v double"
    ).createOrReplaceTempView("batch3")
    v0 = t._read_manifest(t.current_version())
    sess.sql(
        "MERGE INTO t USING batch3 ON t.k = batch3.k AND t.g = batch3.g "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert t.history()[0]["operation"] == "MERGE"
    v1 = t._read_manifest(t.current_version())
    # partitions g=0,2,3 carry over byte-identical (same entry files)
    carried = {rel for rel in v0.values() if "g=1" not in rel}
    assert carried <= set(v1.values())
    rows = {r["k"]: r["v"] for r in t.read().where("g = 1").collect()}
    assert rows[1] == 99.0 and rows[1000] == 50.0
    assert t.read().count() == 41


def test_partition_scoped_without_by_source(spark, tmp_path):
    """With partition cols in the key and no by-source clause, only the
    source's partitions are rewritten."""
    t = ManagedTable(
        spark, "t", str(tmp_path / "tp"), partition_columns=["g"]
    )
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("g"),
        F.lit(1.0).alias("v"),
    )
    t.overwrite(df)
    src = spark.createDataFrame([(1, 1, 99.0)], "k long, g long, v double")
    v0 = t._read_manifest(t.current_version())
    t.merge_clauses(
        src, ["g", "k"], matched=[(None, {"v": "src.v"})],
        not_matched=[(None, "insert_all")],
    )
    v1 = t._read_manifest(t.current_version())
    # partitions g=0,2,3 carry over byte-identical (same entry dirs)
    carried = {rel for rel in v0.values() if "g=1" not in rel}
    assert carried <= set(v1.values())
    row = t.read().where("k = 1 AND g = 1").collect()[0]
    assert row["v"] == 99.0


def test_empty_source_with_by_source_clause_clears(spark, tmp_path):
    """Sync-to-empty: every target row is a by-source row."""
    t = _mk(spark, tmp_path)
    src = _src(spark, []).limit(0)
    t.merge_clauses(
        src, ["k"], not_matched=[(None, "insert_all")],
        not_matched_by_source=[(None, "delete")],
    )
    assert t.read().count() == 0


def test_partition_moving_update_falls_back_to_full_rewrite(spark, tmp_path):
    """ADVICE r09 (medium): a matched UPDATE that assigns a partition
    column can move a row into a partition OUTSIDE the source's
    partitions; partition scoping would retire that destination
    partition's unmatched rows. The guard must force the full-table
    pass — and no rows may be lost."""
    t = ManagedTable(
        spark, "t", str(tmp_path / "tpm"), partition_columns=["g"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, 1, 1.0), (2, 1, 2.0), (10, 9, 10.0), (11, 9, 11.0)],
            "k long, g long, v double",
        )
    )
    # source only touches partition g=1, but the update MOVES the row
    # to g=9 — a partition whose other rows the scope filter excludes
    src = spark.createDataFrame([(1, 1, 100.0)], "k long, g long, v double")
    t.merge_clauses(
        src, ["g", "k"],
        matched=[(None, {"g": "9", "v": "src.v"})],
        not_matched=[(None, "insert_all")],
    )
    got = {(r["k"], r["g"], r["v"]) for r in t.read().collect()}
    assert got == {
        (1, 9, 100.0),   # moved + updated
        (2, 1, 2.0),     # stays in source's partition
        (10, 9, 10.0),   # destination partition rows NOT dropped
        (11, 9, 11.0),
    }


def test_partition_assigning_insert_falls_back_to_full_rewrite(spark, tmp_path):
    """ADVICE r10 (medium): a NOT MATCHED insert map that assigns a
    partition column can land the new row in a partition OUTSIDE the
    source's partitions; scoping would stage that destination partition
    while its pre-existing rows were excluded from the join. The guard
    must force the full-table pass — no rows lost."""
    t = ManagedTable(
        spark, "t", str(tmp_path / "tpi"), partition_columns=["g"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, "B", 2.0), (3, "B", 3.0)],
            "k long, g string, v double",
        )
    )
    # source touches only partition A, but the insert map lands the new
    # row in partition B — whose rows the scope filter would exclude
    src = spark.createDataFrame([(9, "A", 9.0)], "k long, g string, v double")
    t.merge_clauses(
        src, ["g", "k"],
        matched=[(None, {"v": "src.v"})],
        not_matched=[(None, {"k": "src.k", "g": "'B'", "v": "src.v"})],
    )
    got = {(r["k"], r["g"], r["v"]) for r in t.read().collect()}
    assert got == {
        (1, "A", 1.0),
        (2, "B", 2.0),   # pre-existing partition-B rows NOT dropped
        (3, "B", 3.0),
        (9, "B", 9.0),   # inserted into B per the map
    }


def test_partition_omitting_insert_falls_back_to_full_rewrite(spark, tmp_path):
    """ADVICE r10 (medium), omission variant: an insert map that OMITS
    a partition column inserts NULL for it — partition (NULL) — again
    outside the scoped set. Guard forces the full-table pass."""
    t = ManagedTable(
        spark, "t", str(tmp_path / "tpo"), partition_columns=["g"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, None, 2.0)],
            "k long, g string, v double",
        )
    )
    src = spark.createDataFrame([(9, "A", 9.0)], "k long, g string, v double")
    t.merge_clauses(
        src, ["g", "k"],
        not_matched=[(None, {"k": "src.k", "v": "src.v"})],  # g omitted
    )
    got = {(r["k"], r["g"], r["v"]) for r in t.read().collect()}
    assert got == {
        (1, "A", 1.0),
        (2, None, 2.0),  # pre-existing NULL-partition row NOT dropped
        (9, None, 9.0),  # inserted with NULL partition value
    }


# ------------------------------------------------- merge-on-read (DV)


def test_dv_merge_upsert_state_and_untouched_files(spark, tmp_path):
    """deletion_vectors=True: same visible state as the CoW path, but
    untouched rows' files carry over byte-identical and only the
    changed rows append (history op MERGE (DV))."""
    t = _mk(spark, tmp_path)
    v0_entries = set(t._read_manifest(t.current_version()).values())
    t.merge_clauses(
        _src(spark, [(1, "up", 11.0), (5, "in", 50.0)]),
        ["k"],
        matched=[(None, {"s": "'up'", "v": "src.v"})],
        not_matched=[(None, "insert_all")],
        deletion_vectors=True,
    )
    assert _state(t) == {
        1: ("up", 11.0),
        2: ("b", 20.0),
        3: ("c", 30.0),
        5: ("in", 50.0),
    }
    assert t.history()[0]["operation"] == "MERGE (DV)"
    v1 = t._read_manifest(t.current_version())
    assert v0_entries <= set(v1.values())  # originals never rewritten
    dv, dv_n = t._read_dv(t.current_version())
    assert sum(dv_n.values()) == 1  # exactly the updated row died


def test_dv_merge_delete_clause(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_clauses(
        _src(spark, [(2, "x", 0.0)]),
        ["k"],
        matched=[("src.v = 0", "delete"), (None, {"v": "src.v"})],
        deletion_vectors=True,
    )
    assert _state(t) == {1: ("a", 10.0), 3: ("c", 30.0)}
    dv, dv_n = t._read_dv(t.current_version())
    assert sum(dv_n.values()) == 1


def test_dv_merge_by_source_sync(spark, tmp_path):
    """Snapshot sync through the merge-on-read path."""
    t = _mk(spark, tmp_path)
    t.merge_clauses(
        _src(spark, [(2, "B", 200.0), (4, "d", 40.0)]),
        ["k"],
        matched=[(None, {"s": "src.s", "v": "src.v"})],
        not_matched=[(None, "insert_all")],
        not_matched_by_source=[(None, "delete")],
        deletion_vectors=True,
    )
    assert _state(t) == {2: ("B", 200.0), 4: ("d", 40.0)}


def test_dv_merge_matches_cow_merge(spark, tmp_path):
    """Property-ish cross-check: the two paths produce identical
    visible state on a mixed clause set."""
    src_rows = [(1, "m", 1.5), (3, "z", 0.0), (7, "n", 70.0)]
    clauses = dict(
        matched=[("src.v = 0", "delete"), (None, {"v": "v + src.v"})],
        not_matched=[("src.v > 50", "insert_all")],
    )
    a = _mk(spark, tmp_path, rows=((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    b = ManagedTable(spark, "t2", str(tmp_path / "t2"))
    b.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, s string, v double",
        )
    )
    a.merge_clauses(_src(spark, src_rows), ["k"], **clauses)
    b.merge_clauses(
        _src(spark, src_rows), ["k"], deletion_vectors=True, **clauses
    )
    assert _state(a) == _state(b) == {
        1: ("a", 11.5),
        2: ("b", 20.0),
        7: ("n", 70.0),
    }


def test_dv_merge_identity_table_mints(spark, tmp_path):
    """Round 14: merge-on-read MERGE on an identity table — matched
    rewrites keep the target's ids, not-matched inserts mint fresh
    ones against the high watermark, the claim commits atomically.
    Also covers the all-insert merge into an EMPTY table (the empty-
    manifest meta scan)."""
    t = ManagedTable(spark, "ti", str(tmp_path / "ti"))
    t.set_identity_column("id", start=10, step=2)
    t.create_if_not_exists(
        spark.createDataFrame([], "id long, k long, v double").schema
    )
    # all-insert merge into the empty table
    t.merge_clauses(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "k long, v double"
        ).repartition(1),
        ["k"],
        not_matched=[(None, "insert_all")],
        deletion_vectors=True,
    )
    assert sorted(r.id for r in t.read().collect()) == [10, 12]
    id2 = {r.k: r.id for r in t.read().collect()}[2]
    # mixed merge: matched keeps its id, insert mints the next one
    t.merge_clauses(
        spark.createDataFrame(
            [(2, 22.0), (3, 3.0)], "k long, v double"
        ).repartition(1),
        ["k"],
        matched=[(None, {"v": "src.v"})],
        not_matched=[(None, "insert_all")],
        deletion_vectors=True,
    )
    state = {r.k: (r.id, r.v) for r in t.read().collect()}
    assert state[2] == (id2, 22.0)  # rewrite kept the id
    assert state[3][0] == 14 and state[3][1] == 3.0  # fresh mint
    assert t.history()[0]["operation"] == "MERGE (DV)"
    # clauses may never assign a GENERATED ALWAYS identity column
    with pytest.raises(ValueError, match="IDENTITY"):
        t.merge_clauses(
            spark.createDataFrame([(3, 9.0)], "k long, v double"),
            ["k"],
            matched=[(None, {"id": "99"})],
            deletion_vectors=True,
        )


def test_cow_merge_identity_table_mints(spark, tmp_path):
    """The copy-on-write twin: same fill/mint semantics without DVs
    (previously an unresolved-column AnalysisException)."""
    t = ManagedTable(spark, "tic", str(tmp_path / "tic"))
    t.set_identity_column("id")
    t.create_if_not_exists(
        spark.createDataFrame([], "id long, k long, v double").schema
    )
    t.append(
        spark.createDataFrame([(1, 10.0)], "k long, v double").repartition(1)
    )
    t.merge_clauses(
        spark.createDataFrame(
            [(1, 11.0), (2, 2.0)], "k long, v double"
        ).repartition(1),
        ["k"],
        matched=[(None, {"v": "src.v"})],
        not_matched=[(None, "insert_all")],
    )
    state = {r.k: (r.id, r.v) for r in t.read().collect()}
    assert state == {1: (1, 11.0), 2: (2, 2.0)}


def test_dv_merges_disjoint_keys_race_unpartitioned(spark, tmp_path):
    """The headline scenario: two merge-on-read MERGEs on disjoint key
    ranges of an UNPARTITIONED table race — the loser's touched files
    are disjoint from the winner's, so it rebases and both land."""
    name = "tr"
    t = ManagedTable(spark, name, str(tmp_path / name))
    t.overwrite(
        spark.range(0, 10).select(
            F.col("k"), F.lit("a").alias("s"), F.lit(1.0).alias("v")
        ).withColumn("k", F.col("id")).select("k", "s", "v")
        if False
        else spark.range(0, 10).selectExpr(
            "id AS k", "'a' AS s", "CAST(1.0 AS double) AS v"
        )
    )
    t.append(
        spark.range(100, 110).selectExpr(
            "id AS k", "'a' AS s", "CAST(1.0 AS double) AS v"
        )
    )
    loser = ManagedTable(spark, name, str(tmp_path / name))
    winner = ManagedTable(spark, name, str(tmp_path / name))
    with race(loser, lambda: winner.merge_clauses(
        spark.createDataFrame([(105, "w", 5.0)], "k long, s string, v double"),
        ["k"],
        matched=[(None, {"s": "src.s", "v": "src.v"})],
        deletion_vectors=True,
    )) as fired:
        v = loser.merge_clauses(
            spark.createDataFrame([(3, "l", 3.0)], "k long, s string, v double"),
            ["k"],
            matched=[(None, {"s": "src.s", "v": "src.v"})],
            deletion_vectors=True,
        )
    assert fired and v == loser.current_version()
    got = {r["k"]: (r["s"], r["v"]) for r in t.read().collect()}
    assert got[3] == ("l", 3.0) and got[105] == ("w", 5.0)
    assert len(got) == 20


def test_sql_merge_routes_dv_when_property_set(spark, tmp_path):
    """delta.enableDeletionVectors = 'true': SQL MERGE takes the
    merge-on-read path (history op MERGE (DV), original files carried);
    without the property it stays copy-on-write (op MERGE)."""
    t = _mk(spark, tmp_path)
    t.set_properties({"delta.enableDeletionVectors": "true"})
    sess = SqlSession(spark)
    sess.register(t)
    _src(spark, [(1, "up", 11.0), (5, "in", 50.0)]).createOrReplaceTempView(
        "bdv"
    )
    v_before = t._read_manifest(t.current_version())
    sess.sql(
        "MERGE INTO t USING bdv ON t.k = bdv.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert t.history()[0]["operation"] == "MERGE (DV)"
    assert set(v_before.values()) <= set(
        t._read_manifest(t.current_version()).values()
    )
    assert _state(t) == {
        1: ("up", 11.0),
        2: ("b", 20.0),
        3: ("c", 30.0),
        5: ("in", 50.0),
    }
    # property off → copy-on-write (distinct location: _mk reuses one)
    t2 = ManagedTable(spark, "t2", str(tmp_path / "t2cw"))
    t2.overwrite(
        spark.createDataFrame([(9, "z", 90.0)], "k long, s string, v double")
    )
    sess2 = SqlSession(spark)
    sess2.register(t2, "t2")
    _src(spark, [(9, "y", 91.0)]).createOrReplaceTempView("bcw")
    sess2.sql(
        "MERGE INTO t2 USING bcw ON t2.k = bcw.k "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    assert t2.history()[0]["operation"] == "MERGE"
