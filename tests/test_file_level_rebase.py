"""Delta's FILE-level ConflictChecker (round 13): merge-on-read DML
(DELETE (DV) / UPDATE (DV) / MERGE DELETE (DV)) declares its write set
as the exact touched files, so a claim-collision loser rebases onto the
winner whenever the winner neither touched those files nor — unless it
was a blind append — added files that could satisfy the loser's read
predicate. This is the granularity that lets concurrent DML on
UNPARTITIONED tables land in parallel (the r12 disjoint rebase keyed on
partition entries, so every scoped DML on an unpartitioned table kept
first-writer-wins)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.sql_dml import SqlSession
from databricks_data_warehouse_spark.sources.tables import (
    ConcurrentWriteError,
    ManagedTable,
)


def _mk(spark, tmp_path, name):
    """Unpartitioned table with TWO files: ids 0–9 and 100–109."""
    t = ManagedTable(spark, name, str(tmp_path / name))
    t.overwrite(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    t.append(
        spark.range(100, 110).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    return t


def _handle(spark, tmp_path, name):
    return ManagedTable(spark, name, str(tmp_path / name))


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


def test_disjoint_dv_deletes_both_land_unpartitioned(spark, tmp_path):
    """Two DELETE (DV)s marking rows in DIFFERENT files of an
    unpartitioned table: the loser rebases, both land."""
    t = _mk(spark, tmp_path, "f1")
    loser = _handle(spark, tmp_path, "f1")
    winner = _handle(spark, tmp_path, "f1")
    with race(
        loser, lambda: winner.delete_where(F.col("k") == 105)
    ) as fired:
        v = loser.delete_where(F.col("k") == 3, read_filters=[[("k", "=", 3)]])
    assert fired
    assert v == loser.current_version() == 3  # v1 base, v2 winner, v3 loser
    assert _rows(t) == sorted(
        (k, k * 10) for k in list(range(10)) + list(range(100, 110))
        if k not in (3, 105)
    )


def test_overlapping_dv_deletes_raise(spark, tmp_path):
    """Both DMLs mark rows in the SAME file: ConcurrentDeleteDelete —
    the loser's DV union was computed against stale state."""
    t = _mk(spark, tmp_path, "f2")
    loser = _handle(spark, tmp_path, "f2")
    winner = _handle(spark, tmp_path, "f2")
    with race(
        loser, lambda: winner.delete_where(F.col("k") == 2)
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.delete_where(F.col("k") == 3, read_filters=[[("k", "=", 3)]])
    assert fired
    # the winner landed; the loser aborted cleanly
    assert (2, 20) not in _rows(t) and (3, 30) in _rows(t)


def test_blind_append_never_conflicts_with_dv_delete(spark, tmp_path):
    """A blind append racing a DV delete — even one whose rows MATCH
    the delete predicate — rebases: write-serializable history, the
    delete serializes first (Delta's default isolation)."""
    t = _mk(spark, tmp_path, "f3")
    loser = _handle(spark, tmp_path, "f3")
    winner = _handle(spark, tmp_path, "f3")
    with race(
        loser,
        lambda: winner.append(
            spark.createDataFrame([(3, 999)], "k long, v long")
        ),
    ) as fired:
        # no read_filters: predicate unknown — blind appends are exempt
        v = loser.delete_where(F.col("k") == 3)
    assert fired and v == loser.current_version()
    # old k=3 deleted; the appended k=3 survives (append second)
    assert (3, 999) in _rows(t) and (3, 30) not in _rows(t)


def test_nonblind_add_matching_predicate_raises(spark, tmp_path):
    """A non-blind winner (UPDATE (DV) rewrites rows into a new file)
    whose added rows satisfy the loser's read predicate conflicts:
    the loser's matched-row scan missed them (ConcurrentAppend)."""
    t = _mk(spark, tmp_path, "f4")
    loser = _handle(spark, tmp_path, "f4")
    winner = _handle(spark, tmp_path, "f4")
    # winner rewrites k=105 to k=5-range territory (v stays distinct)
    with race(
        loser,
        lambda: winner.update_where({"k": "5"}, F.col("k") == 105),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.delete_where(
            F.col("k") <= 9, read_filters=[[("k", "<=", 9)]]
        )
    assert fired
    assert (5, 1050) in _rows(t)  # the winner landed


def test_nonblind_add_outside_predicate_rebases(spark, tmp_path):
    """The same non-blind winner, but the loser's predicate provably
    excludes the added file (footer stats): disjoint — rebase."""
    t = _mk(spark, tmp_path, "f5")
    loser = _handle(spark, tmp_path, "f5")
    winner = _handle(spark, tmp_path, "f5")
    with race(
        loser,
        lambda: winner.update_where(
            {"v": "v + 1"},
            F.col("k") == 105,
            read_filters=[[("k", "=", 105)]],
        ),
    ) as fired:
        v = loser.delete_where(
            F.col("k") == 3, read_filters=[[("k", "=", 3)]]
        )
    assert fired and v == loser.current_version()
    rows = _rows(t)
    assert (3, 30) not in rows and (105, 1051) in rows


def test_dv_delete_without_predicate_conflicts_with_nonblind_add(
    spark, tmp_path
):
    """read_filters=None (predicate unknown) is conservative: ANY
    non-blind winner that added files raises."""
    t = _mk(spark, tmp_path, "f6")
    loser = _handle(spark, tmp_path, "f6")
    winner = _handle(spark, tmp_path, "f6")
    with race(
        loser,
        lambda: winner.update_where({"v": "v + 1"}, F.col("k") == 105),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.delete_where(F.col("k") == 3)
    assert fired
    assert (105, 1051) in _rows(t)


def test_disjoint_dv_updates_both_land(spark, tmp_path):
    """Two UPDATE (DV)s on different files of an unpartitioned table
    both land; values reflect both."""
    t = _mk(spark, tmp_path, "f7")
    loser = _handle(spark, tmp_path, "f7")
    winner = _handle(spark, tmp_path, "f7")
    with race(
        loser,
        lambda: winner.update_where(
            {"v": "v + 1"},
            F.col("k") == 105,
            read_filters=[[("k", "=", 105)]],
        ),
    ) as fired:
        v = loser.update_where(
            {"v": "v + 2"}, F.col("k") == 3, read_filters=[[("k", "=", 3)]]
        )
    assert fired and v == loser.current_version()
    rows = dict(_rows(t))
    assert rows[3] == 32 and rows[105] == 1051


def test_metadata_flip_mid_flight_refuses_file_rebase(spark, tmp_path):
    """A winner that changed write semantics (appendOnly) under the
    loser's staged DV refuses the rebase even with disjoint files."""
    t = _mk(spark, tmp_path, "f8")
    loser = _handle(spark, tmp_path, "f8")
    winner = _handle(spark, tmp_path, "f8")
    with race(
        loser,
        lambda: winner.set_properties({"delta.appendOnly": "true"}),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.delete_where(
            F.col("k") == 3, read_filters=[[("k", "=", 3)]]
        )
    assert fired
    assert (3, 30) in _rows(t)  # nothing deleted


def test_sql_dml_derives_read_filters(spark, tmp_path):
    """The SQL layer parses a simple WHERE into the read DNF, so SQL
    DELETE/UPDATE racing a disjoint non-blind writer rebases too."""
    t = _mk(spark, tmp_path, "f9")
    sess = SqlSession(spark)
    sess.register(t)
    loser = _handle(spark, tmp_path, "f9")
    winner = _handle(spark, tmp_path, "f9")
    with race(
        loser,
        lambda: winner.update_where(
            {"v": "v + 1"},
            F.col("k") == 105,
            read_filters=[[("k", "=", 105)]],
        ),
    ) as fired:
        sess_loser = SqlSession(spark)
        sess_loser.register(loser, "t9")
        sess_loser.sql("DELETE FROM t9 WHERE k = 3")
    assert fired
    rows = _rows(t)
    assert (3, 30) not in rows and (105, 1051) in rows


def test_parallel_dv_deletes_threads_unpartitioned(spark, tmp_path):
    """REAL concurrency: four writers each DV-delete their own key in
    a DIFFERENT file of an unpartitioned table, simultaneously. Every
    writer lands (file-disjoint rebases), zero aborted work."""
    from concurrent.futures import ThreadPoolExecutor

    name = "f10"
    t = ManagedTable(spark, name, str(tmp_path / name))
    # four files: one append per range
    t.overwrite(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    for lo in (100, 200, 300):
        t.append(
            spark.range(lo, lo + 10).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            )
        )

    def writer(lo):
        h = ManagedTable(spark, name, str(tmp_path / name))
        return h.delete_where(
            F.col("k") == lo + 5,
            read_filters=[[("k", "=", lo + 5)]],
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(writer, (0, 100, 200, 300)))
    assert sorted(versions) == [4, 5, 6, 7]  # v0-3 setup, then all land
    got = {k for k, _v in _rows(t)}
    assert got == {
        k
        for k in list(range(10))
        + list(range(100, 110))
        + list(range(200, 210))
        + list(range(300, 310))
        if k not in (5, 105, 205, 305)
    }


# ------------------------------------- round-13 review regressions


def test_dv_stale_read_window_checked(spark, tmp_path):
    """A commit landing between the caller's read snapshot and the DV
    claim is conflict-checked: same-file overlap raises, disjoint
    files pass (review finding: the window was previously unguarded
    except for retired files)."""
    t = _mk(spark, tmp_path, "sr1")
    v_read = t.current_version()
    doomed = t._read_internal(v_read, with_pos=True).filter(
        F.col("k") == 3
    ).select("__mt_key", "__mt_pos")
    other = _handle(spark, tmp_path, "sr1")
    other.delete_where(F.col("k") == 2)  # same file, lands first
    with pytest.raises(ConcurrentWriteError):
        t._delete_rows_dv(
            doomed, op="DELETE (DV)",
            read_dnf=[[("k", "=", 3)]], read_version=v_read,
        )
    # disjoint intermediate (other file): proceeds
    t2 = _mk(spark, tmp_path, "sr2")
    v_read = t2.current_version()
    doomed = t2._read_internal(v_read, with_pos=True).filter(
        F.col("k") == 3
    ).select("__mt_key", "__mt_pos")
    other2 = _handle(spark, tmp_path, "sr2")
    other2.delete_where(F.col("k") == 105)
    v = t2._delete_rows_dv(
        doomed, op="DELETE (DV)",
        read_dnf=[[("k", "=", 3)]], read_version=v_read,
    )
    assert v == t2.current_version()
    got = {k for k, _ in _rows(t2)}
    assert 3 not in got and 105 not in got


def test_insert_only_dv_merge_allowed_on_append_only(spark, tmp_path):
    """Review finding: routing MERGE through the DV path must not
    break insert-only merges on appendOnly tables (nothing is marked
    dead); a matched-clause merge still raises."""
    t = _mk(spark, tmp_path, "ao1")
    t.set_properties({"delta.appendOnly": "true"})
    v = t.merge_clauses(
        spark.createDataFrame([(999, 1)], "k long, v long"),
        ["k"],
        not_matched=[(None, "insert_all")],
        deletion_vectors=True,
    )
    assert v == t.current_version()
    assert (999, 1) in {(k, v_) for k, v_ in _rows(t)}
    # the fallback commit is NON-blind (it read the target's keys)
    import json as _json
    from databricks_data_warehouse_spark.sources.tables import (
        _load_manifest_json,
    )
    m = _load_manifest_json(t._manifest_path(t.current_version()))
    assert m.get("blind") is False
    with pytest.raises(ValueError, match="append-only"):
        t.merge_clauses(
            spark.createDataFrame([(3, 0.0)], "k long, v double"),
            ["k"],
            matched=[(None, "delete")],
            deletion_vectors=True,
        )


def test_dv_update_ansi_coerces_drifted_types(spark, tmp_path):
    """Review finding: the DV append staging skipped the ANSI cast
    guard — an int assigned into a double column must land as double
    and read back correctly."""
    t = _mk(spark, tmp_path, "co1")  # v is long here; use a double tbl
    td = ManagedTable(spark, "co2", str(tmp_path / "co2"))
    td.overwrite(
        spark.createDataFrame([(1, 10.5), (2, 20.5)], "k long, p double")
    )
    td.update_where({"p": "1"}, F.col("k") == 1)  # int expr → double col
    got = {r["k"]: r["p"] for r in td.read().collect()}
    assert got == {1: 1.0, 2: 20.5}


def test_dv_commit_binds_current_constraints(spark, tmp_path):
    """Review finding: a constraint added by another writer after this
    handle opened must bind on the DV commit's appended rows."""
    t = _mk(spark, tmp_path, "cb1")
    stale = _handle(spark, tmp_path, "cb1")
    stale.schema = stale._load_schema()
    t.add_constraint("v_positive", "v >= 0")
    with pytest.raises(Exception, match="v_positive|constraint"):
        stale.update_where({"v": "-1"}, F.col("k") == 3)
    vals = {r["k"]: r["v"] for r in t.read().collect()}
    assert vals[3] == 30  # nothing landed


# ---------------------------------------------------------------------------
# Round 14: ENTRY-SCOPED copy-on-write DML — CoW DELETE/UPDATE rewrite
# only the entries containing matched rows, declare a file-granular
# write set, and ride the same conflict detection as the DV path.
# ---------------------------------------------------------------------------


def test_cow_delete_entry_scoped_carries_untouched_files(spark, tmp_path):
    """A selective CoW DELETE rewrites only the entry holding matched
    rows; the other file survives byte-identical in the manifest."""
    t = _mk(spark, tmp_path, "cw1")
    before = set(t._read_manifest(t.current_version()).values())
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    after = t._read_manifest(t.current_version()).values()
    # the 100-109 entry carried over untouched; the 0-9 entry was
    # replaced by a fresh staged dir
    assert len(before & set(after)) == 1
    assert _rows(t) == sorted(
        (k, k * 10) for k in list(range(10)) + list(range(100, 110))
        if k != 3
    )
    assert t.history()[0]["operation"] == "DELETE"


def test_cow_update_entry_scoped(spark, tmp_path):
    t = _mk(spark, tmp_path, "cw2")
    before = set(t._read_manifest(t.current_version()).values())
    t.update_where({"v": "v + 1"}, F.col("k") == 105, deletion_vectors=False)
    after = t._read_manifest(t.current_version()).values()
    assert len(before & set(after)) == 1  # ids-0-9 file untouched
    got = {r.k: r.v for r in t.read().collect()}
    assert got[105] == 1051 and got[3] == 30 and len(got) == 20


def test_cow_dml_zero_match_is_commit_free(spark, tmp_path):
    t = _mk(spark, tmp_path, "cw3")
    v = t.current_version()
    assert t.delete_where(F.col("k") == 999, deletion_vectors=False) == v
    assert (
        t.update_where({"v": "0"}, F.col("k") == 999, deletion_vectors=False)
        == v
    )
    assert t.current_version() == v


def test_disjoint_cow_deletes_both_land_unpartitioned(spark, tmp_path):
    """Two copy-on-write DELETEs touching DIFFERENT files of an
    unpartitioned table: the loser rebases at file granularity, both
    land (previously: replace_all, loser aborted)."""
    t = _mk(spark, tmp_path, "cw4")
    loser = _handle(spark, tmp_path, "cw4")
    winner = _handle(spark, tmp_path, "cw4")
    with race(
        loser,
        lambda: winner.delete_where(
            F.col("k") == 105, deletion_vectors=False
        ),
    ) as fired:
        loser.delete_where(
            F.col("k") == 3,
            deletion_vectors=False,
            read_filters=[[("k", "=", 3)]],
        )
    assert fired
    assert _rows(t) == sorted(
        (k, k * 10) for k in list(range(10)) + list(range(100, 110))
        if k not in (3, 105)
    )


def test_overlapping_cow_deletes_raise(spark, tmp_path):
    """Two CoW DELETEs claiming rows in the SAME file: the loser's
    write set overlaps the winner's — first-writer-wins."""
    t = _mk(spark, tmp_path, "cw5")
    loser = _handle(spark, tmp_path, "cw5")
    winner = _handle(spark, tmp_path, "cw5")
    with race(
        loser,
        lambda: winner.delete_where(
            F.col("k") == 2, deletion_vectors=False
        ),
    ) as fired:
        with pytest.raises(ConcurrentWriteError):
            loser.delete_where(
                F.col("k") == 3,
                deletion_vectors=False,
                read_filters=[[("k", "=", 3)]],
            )
    assert fired
    assert (2, 20) not in _rows(t) and (3, 30) in _rows(t)


def test_cow_delete_rebases_over_blind_append(spark, tmp_path):
    """A blind append landing mid-flight never conflicts with a CoW
    DELETE (write-serializable: the DELETE serializes first)."""
    t = _mk(spark, tmp_path, "cw6")
    loser = _handle(spark, tmp_path, "cw6")
    winner = _handle(spark, tmp_path, "cw6")
    with race(
        loser,
        lambda: winner.append(
            spark.createDataFrame([(999, 9990)], "k long, v long")
        ),
    ) as fired:
        loser.delete_where(
            F.col("k") == 3,
            deletion_vectors=False,
            read_filters=[[("k", "=", 3)]],
        )
    assert fired
    got = _rows(t)
    assert (999, 9990) in got and (3, 30) not in got and len(got) == 20


def test_cow_delete_mixed_race_with_dv_delete(spark, tmp_path):
    """CoW DELETE racing a DV DELETE on the other file: disjoint at
    file granularity on both sides — both land."""
    t = _mk(spark, tmp_path, "cw7")
    loser = _handle(spark, tmp_path, "cw7")
    winner = _handle(spark, tmp_path, "cw7")
    with race(
        loser,
        lambda: winner.delete_where(F.col("k") == 107),  # DV path
    ) as fired:
        loser.delete_where(
            F.col("k") == 1,
            deletion_vectors=False,
            read_filters=[[("k", "=", 1)]],
        )
    assert fired
    assert _rows(t) == sorted(
        (k, k * 10) for k in list(range(10)) + list(range(100, 110))
        if k not in (1, 107)
    )


def test_cow_update_moves_row_across_partitions(spark, tmp_path):
    """Entry-scoped CoW UPDATE on a PARTITIONED table where the
    assignment changes the partition value: the rewritten row lands in
    its new partition, the old entry's survivors restage, other
    partitions carry over."""
    t = ManagedTable(
        spark, "cwp", str(tmp_path / "cwp"), partition_columns=["p"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
            "k long, p string, v long",
        )
    )
    t.update_where({"p": "'b'"}, F.col("k") == 1, deletion_vectors=False)
    got = sorted((r.k, r.p, r.v) for r in t.read().collect())
    assert got == [(1, "b", 10), (2, "a", 20), (3, "b", 30)]


def test_sparse_key_merge_rebases_over_mid_range_rewrite(spark, tmp_path):
    """Round 14: the DV MERGE's declared read predicate is the exact
    key SET when small — a merge on sparse keys {2, 999} racing a
    non-blind rewrite that adds a k=105 file (inside the [2, 999]
    span) stays disjoint and rebases; the old per-key BETWEEN would
    have serialized them."""
    t = _mk(spark, tmp_path, "sp1")
    loser = _handle(spark, tmp_path, "sp1")
    winner = _handle(spark, tmp_path, "sp1")
    with race(
        loser,
        lambda: winner.update_where({"v": "v + 1"}, F.col("k") == 105),
    ) as fired:
        loser.merge_clauses(
            spark.createDataFrame([(2, 222), (999, 9990)], "k long, v long"),
            ["k"],
            matched=[(None, {"v": "src.v"})],
            not_matched=[(None, "insert_all")],
            deletion_vectors=True,
        )
    assert fired
    got = dict(_rows(t))
    assert got[105] == 1051  # winner landed
    assert got[2] == 222 and got[999] == 9990  # loser rebased, both in
    assert len(got) == 21


def test_source_key_dnf_shapes(spark, tmp_path):
    """Unit shapes of the derived read predicate: IN-set under the
    cap, BETWEEN above it, [] for empty / all-NULL key sources."""
    t = _mk(spark, tmp_path, "sp2")
    small = spark.createDataFrame([(2, 0), (999, 0)], "k long, v long")
    [trips] = t._source_key_dnf(small, ["k"])
    assert trips[0][0] == "k" and trips[0][1] == "in"
    assert sorted(trips[0][2]) == [2, 999]
    big = spark.range(0, t._KEY_SET_CAP + 5).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    )
    [trips] = t._source_key_dnf(big, ["k"])
    assert trips[0][1] == "between"
    assert t._source_key_dnf(small.limit(0), ["k"]) == []
    nulls = spark.createDataFrame(
        [(None, 1)], "k long, v long"
    )
    assert t._source_key_dnf(nulls, ["k"]) == []


def _big_sparse_source(spark, extra=()):
    """>_KEY_SET_CAP scattered keys: {2, 999} ∪ {10000, 10002, …} —
    the span covers k=105 but the SET does not."""
    wide = spark.range(0, 2000).select(
        (F.col("id") * 2 + 10000).alias("k"),
        F.lit(0).alias("v"),
    )
    hot = spark.createDataFrame(
        [(2, 222), (999, 9990), *extra], "k long, v long"
    )
    return hot.unionByName(wide)


def test_above_cap_sparse_keys_rebase_via_bloom(spark, tmp_path):
    """Round 15: a merge on >1024 scattered keys races a non-blind
    rewrite adding a k=105 file INSIDE the keys' [2, ~14000] span.
    BETWEEN alone would serialize; the key-set Bloom sketch probes the
    added file's actual values, proves 105 is not one of our keys, and
    the loser rebases."""
    t = _mk(spark, tmp_path, "kb1")
    loser = _handle(spark, tmp_path, "kb1")
    winner = _handle(spark, tmp_path, "kb1")
    with race(
        loser,
        lambda: winner.update_where({"v": "v + 1"}, F.col("k") == 105),
    ) as fired:
        loser.merge_clauses(
            _big_sparse_source(spark),
            ["k"],
            matched=[(None, {"v": "src.v"})],
            not_matched=[(None, "insert_all")],
            deletion_vectors=True,
        )
    assert fired
    got = dict(_rows(t))
    assert got[105] == 1051  # winner landed
    assert got[2] == 222 and got[999] == 9990  # loser rebased
    assert got[10000] == 0 and len(got) == 20 + 2001


def test_above_cap_keys_conflict_when_add_contains_key(spark, tmp_path):
    """Soundness direction: the racing add DOES carry one of the
    loser's 2000+ keys (k=10002) — the sketch cannot refute it and the
    loser must raise, not rebase over a row its key-absence decision
    missed."""
    t = _mk(spark, tmp_path, "kb2")
    loser = _handle(spark, tmp_path, "kb2")
    winner = _handle(spark, tmp_path, "kb2")
    with race(
        loser,
        lambda: winner.merge_clauses(
            spark.createDataFrame([(10002, 111)], "k long, v long"),
            ["k"],
            not_matched=[(None, "insert_all")],
            deletion_vectors=True,
        ),
    ) as fired:
        with pytest.raises(ConcurrentWriteError):
            loser.merge_clauses(
                _big_sparse_source(spark),
                ["k"],
                matched=[(None, {"v": "src.v"})],
                not_matched=[(None, "insert_all")],
                deletion_vectors=True,
            )
    assert fired
    assert dict(_rows(t))[10002] == 111  # only the winner landed


def test_key_bloom_sketch_membership(spark, tmp_path):
    """Unit: the sketch admits every source key and refutes a value
    far outside the set (hashing the declared column type on both
    sides)."""
    t = _mk(spark, tmp_path, "kb3")
    src = _big_sparse_source(spark)
    sk = t._key_bloom_sketch(src, "k", 2002)
    assert sk is not None
    poss = F.array(
        *[
            F.pmod(F.xxhash64(F.col("k").cast("long"), F.lit(i)), F.lit(sk.m))
            for i in range(sk.k)
        ]
    )
    member_rows = src.select(poss.alias("ps")).collect()
    assert all(sk.has_positions(r["ps"]) for r in member_rows)
    probe = spark.createDataFrame([(105,)], "k long").select(
        poss.alias("ps")
    ).collect()
    assert not sk.has_positions(probe[0]["ps"])


def test_cow_merge_entry_scoped_carries_untouched_files(spark, tmp_path):
    """Round 14: an UNSCOPED copy-on-write merge_clauses rewrites only
    the entries holding fired rows; the other file's entry survives in
    the manifest byte-identical, and inserts ride the same commit."""
    t = _mk(spark, tmp_path, "cm1")
    before = set(t._read_manifest(t.current_version()).values())
    t.merge_clauses(
        spark.createDataFrame([(3, 333), (999, 9990)], "k long, v long"),
        ["k"],
        matched=[(None, {"v": "src.v"})],
        not_matched=[(None, "insert_all")],
    )
    after = t._read_manifest(t.current_version()).values()
    assert len(before & set(after)) == 1  # high-half file untouched
    got = dict(_rows(t))
    assert got[3] == 333 and got[999] == 9990 and len(got) == 21
    assert t.history()[0]["operation"] == "MERGE"


def test_disjoint_cow_merges_both_land_unpartitioned(spark, tmp_path):
    """Two unscoped CoW merges firing on DIFFERENT files of an
    unpartitioned table: the loser's auto-derived key-set read
    predicate + file write set prove disjointness — both land
    (previously: replace_all, loser aborted)."""
    t = _mk(spark, tmp_path, "cm2")
    loser = _handle(spark, tmp_path, "cm2")
    winner = _handle(spark, tmp_path, "cm2")
    with race(
        loser,
        lambda: winner.merge_clauses(
            spark.createDataFrame([(105, 1055)], "k long, v long"),
            ["k"],
            matched=[(None, {"v": "src.v"})],
        ),
    ) as fired:
        loser.merge_clauses(
            spark.createDataFrame([(3, 333), (999, 9990)], "k long, v long"),
            ["k"],
            matched=[(None, {"v": "src.v"})],
            not_matched=[(None, "insert_all")],
        )
    assert fired
    got = dict(_rows(t))
    assert got[105] == 1055 and got[3] == 333 and got[999] == 9990
    assert len(got) == 21


def test_cow_merge_by_source_still_full_sweep(spark, tmp_path):
    """A by-source clause must see every target row: the entry-scoped
    CoW commit still produces exactly the sync result (rows absent
    from the source deleted everywhere, both files touched)."""
    t = _mk(spark, tmp_path, "cm3")
    src = spark.createDataFrame(
        [(k, k * 10) for k in (1, 3, 104)], "k long, v long"
    )
    t.merge_clauses(
        src,
        ["k"],
        matched=[(None, {"v": "src.v + 1"})],
        not_matched=[(None, "insert_all")],
        not_matched_by_source=[(None, "delete")],
    )
    got = dict(_rows(t))
    assert got == {1: 11, 3: 31, 104: 1041}
