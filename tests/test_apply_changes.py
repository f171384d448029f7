"""APPLY CHANGES INTO (DLT CDC apply) — SCD1 latest-state and SCD2
history semantics, batch-internal multi-versions, deletes, and the
cross-batch late-event ignore rule."""

import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.pipelines.cdc import (
    END_COL,
    START_COL,
    apply_changes,
    scd1_current,
    scd2_history,
)
from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.tables import ManagedTable


def _changes(spark, rows):
    # (k, val, seq, op)
    return spark.createDataFrame(
        rows, "k long, val string, seq long, op string"
    )


def _scd1(spark, tmp_path, name="c1"):
    return ManagedTable(spark, name, str(tmp_path / name))


def test_scd1_first_batch_and_upsert_delete(spark, tmp_path):
    t = _scd1(spark, tmp_path)
    b1 = _changes(
        spark,
        [(1, "a", 1, "upsert"), (2, "b", 1, "upsert"), (3, "c", 1, "upsert")],
    )
    apply_changes(t, b1, ["k"], "seq", apply_as_deletes="op = 'delete'")
    b2 = _changes(spark, [(1, "a2", 2, "upsert"), (2, "b", 2, "delete")])
    apply_changes(t, b2, ["k"], "seq", apply_as_deletes="op = 'delete'")
    got = {r["k"]: (r["val"], r["seq"]) for r in scd1_current(t).collect()}
    assert got == {1: ("a2", 2), 3: ("c", 1)}


def test_scd1_batch_keeps_only_latest_version(spark, tmp_path):
    t = _scd1(spark, tmp_path)
    b = _changes(
        spark,
        [(1, "v1", 1, "upsert"), (1, "v2", 2, "upsert"), (1, "v3", 3, "upsert")],
    )
    apply_changes(t, b, ["k"], "seq", apply_as_deletes="op = 'delete'")
    assert [(r["val"], r["seq"]) for r in scd1_current(t).collect()] == [
        ("v3", 3)
    ]


def test_scd1_late_event_ignored(spark, tmp_path):
    t = _scd1(spark, tmp_path)
    apply_changes(
        t, _changes(spark, [(1, "new", 5, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'",
    )
    # a replayed older change must not regress the row
    apply_changes(
        t, _changes(spark, [(1, "old", 3, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'",
    )
    assert scd1_current(t).collect()[0]["val"] == "new"
    # a late delete is ignored too
    apply_changes(
        t, _changes(spark, [(1, "x", 4, "delete")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'",
    )
    assert scd1_current(t).count() == 1


def test_scd1_delete_in_latest_position_wins(spark, tmp_path):
    t = _scd1(spark, tmp_path)
    apply_changes(
        t, _changes(spark, [(1, "a", 1, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'",
    )
    b = _changes(spark, [(1, "a2", 2, "upsert"), (1, "x", 3, "delete")])
    apply_changes(t, b, ["k"], "seq", apply_as_deletes="op = 'delete'")
    assert scd1_current(t).count() == 0
    # the tombstone is physically stored with the delete's sequence
    ts = t.read().where("k = 1").collect()
    assert len(ts) == 1 and ts[0]["seq"] == 3


def test_scd2_history_with_intermediate_versions(spark, tmp_path):
    t = ManagedTable(spark, "c2", str(tmp_path / "c2"))
    b1 = _changes(
        spark,
        [(1, "v1", 1, "upsert"), (1, "v2", 2, "upsert"), (2, "w1", 1, "upsert")],
    )
    apply_changes(
        t, b1, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
    )
    rows = {
        (r["k"], r["val"]): (r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    }
    assert rows == {(1, "v1"): (1, 2), (1, "v2"): (2, None), (2, "w1"): (1, None)}


def test_scd2_second_batch_closes_open_version(spark, tmp_path):
    t = ManagedTable(spark, "c2b", str(tmp_path / "c2b"))
    apply_changes(
        t, _changes(spark, [(1, "v1", 1, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    apply_changes(
        t, _changes(spark, [(1, "v2", 5, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    rows = {
        r["val"]: (r[START_COL], r[END_COL]) for r in scd2_history(t).collect()
    }
    assert rows == {"v1": (1, 5), "v2": (5, None)}


def test_scd2_delete_closes_without_insert(spark, tmp_path):
    t = ManagedTable(spark, "c2d", str(tmp_path / "c2d"))
    apply_changes(
        t, _changes(spark, [(1, "v1", 1, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    apply_changes(
        t, _changes(spark, [(1, "x", 7, "delete")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    rows = [(r["val"], r[START_COL], r[END_COL]) for r in scd2_history(t).collect()]
    assert rows == [("v1", 1, 7)]


def test_scd2_late_batch_ignored_and_cold_keys_untouched(spark, tmp_path):
    import glob
    import os

    t = ManagedTable(spark, "c2l", str(tmp_path / "c2l"))
    b1 = _changes(
        spark, [(1, "v1", 10, "upsert"), (2, "w1", 10, "upsert")]
    )
    apply_changes(
        t, b1, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
    )
    v_before = t.current_version()
    # a batch entirely at-or-before the open versions: commit-free no-op
    apply_changes(
        t, _changes(spark, [(1, "stale", 10, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    assert t.current_version() == v_before
    # merge-on-read: applying a change for k=1 leaves data files intact
    inodes = {
        p: os.stat(p).st_ino
        for p in glob.glob(t.location + "/data/**/*.parquet", recursive=True)
    }
    apply_changes(
        t, _changes(spark, [(1, "v2", 20, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    for p, ino in inodes.items():
        assert os.stat(p).st_ino == ino  # old files never rewritten
    rows = {
        r["val"]: (r[START_COL], r[END_COL]) for r in scd2_history(t).collect()
    }
    assert rows == {"v1": (10, 20), "v2": (20, None), "w1": (10, None)}


def test_scd1_full_replay_is_noop_any_order(spark, tmp_path):
    """Tombstone LWW: re-delivering every batch — even out of order —
    changes nothing (the sequence-owned exactly-once story)."""
    t = _scd1(spark, tmp_path)
    b1 = _changes(spark, [(1, "a", 1, "upsert"), (2, "b", 1, "upsert")])
    b2 = _changes(spark, [(1, "a2", 2, "upsert")])
    b3 = _changes(spark, [(2, "x", 3, "delete")])
    for b in (b1, b2, b3):
        apply_changes(t, b, ["k"], "seq", apply_as_deletes="op = 'delete'")
    v = t.current_version()
    state = sorted(
        (r["k"], r["val"], r["seq"]) for r in scd1_current(t).collect()
    )
    # replay in shuffled order — the tombstone carries seq 3, so the
    # late b1 upsert of k=2 cannot resurrect it
    for b in (b3, b1, b2):
        apply_changes(t, b, ["k"], "seq", apply_as_deletes="op = 'delete'")
    assert sorted(
        (r["k"], r["val"], r["seq"]) for r in scd1_current(t).collect()
    ) == state
    # and the replays were commit-free no-ops (merge found nothing newer)
    assert t.current_version() == v


def test_scd2_full_replay_is_noop(spark, tmp_path):
    t = ManagedTable(spark, "c2r", str(tmp_path / "c2r"))
    b1 = _changes(spark, [(1, "v1", 1, "upsert"), (2, "w1", 1, "upsert")])
    b2 = _changes(spark, [(1, "v2", 2, "upsert")])
    b3 = _changes(spark, [(2, "x", 3, "delete")])
    for b in (b1, b2, b3):
        apply_changes(
            t, b, ["k"], "seq", apply_as_deletes="op = 'delete'",
            except_columns=["op"], stored_as_scd_type=2,
        )
    v = t.current_version()
    state = sorted(
        (r["k"], r["val"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    )
    for b in (b1, b2, b3):  # total re-delivery
        apply_changes(
            t, b, ["k"], "seq", apply_as_deletes="op = 'delete'",
            except_columns=["op"], stored_as_scd_type=2,
        )
    assert t.current_version() == v  # high-water guard: zero commits
    assert sorted(
        (r["k"], r["val"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    ) == state


def test_scd2_mixed_stale_fresh_batch_applies_fresh_changes(spark, tmp_path):
    """ADVICE r09 (medium): a batch carrying {seq 4, seq 6} for a key
    already applied through seq 5 must apply seq 6 — the old
    whole-batch first-seq gate silently dropped it."""
    t = ManagedTable(spark, "c2m", str(tmp_path / "c2m"))
    apply_changes(
        t, _changes(spark, [(1, "v5", 5, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    b = _changes(spark, [(1, "v4", 4, "upsert"), (1, "v6", 6, "upsert")])
    apply_changes(
        t, b, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
    )
    rows = {
        r["val"]: (r[START_COL], r[END_COL]) for r in scd2_history(t).collect()
    }
    # seq 4 splices BEFORE the already-applied 5; seq 6 extends it
    assert rows == {"v4": (4, 5), "v5": (5, 6), "v6": (6, None)}


def test_scd2_late_event_splices_into_history(spark, tmp_path):
    """DLT SCD2 out-of-order contract: a late upsert lands at its
    sequence position with correct validity, not dropped."""
    t = ManagedTable(spark, "c2s", str(tmp_path / "c2s"))
    apply_changes(
        t, _changes(spark, [(1, "v1", 1, "upsert"), (1, "v9", 9, "upsert")]),
        ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
    )
    apply_changes(
        t, _changes(spark, [(1, "v5", 5, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    rows = {
        r["val"]: (r[START_COL], r[END_COL]) for r in scd2_history(t).collect()
    }
    assert rows == {"v1": (1, 5), "v5": (5, 9), "v9": (9, None)}


def test_scd2_track_history_untracked_change_does_not_version(
    spark, tmp_path
):
    """TRACK HISTORY ON (status): an event changing only the untracked
    column updates the open version in place — no new row, START
    unchanged; a tracked change still opens a version."""
    t = ManagedTable(spark, "c2t", str(tmp_path / "c2t"))
    kw = dict(
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2, track_history_column_list=["status"],
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "k long, status string, note string, seq long, op string"
    )
    apply_changes(t, mk([(1, "open", "a", 1, "upsert")]), ["k"], "seq", **kw)
    # untracked-only change: in-place update, same version
    apply_changes(t, mk([(1, "open", "b", 2, "upsert")]), ["k"], "seq", **kw)
    rows = [
        (r["status"], r["note"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    ]
    assert rows == [("open", "b", 1, None)]
    # tracked change: new version
    apply_changes(t, mk([(1, "closed", "b", 3, "upsert")]), ["k"], "seq", **kw)
    rows = {
        r["status"]: (r["note"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    }
    assert rows == {"open": ("b", 1, 3), "closed": ("b", 3, None)}


def test_scd2_track_history_collapse_within_one_batch(spark, tmp_path):
    """Collapse also applies batch-internally, and a delete always
    breaks: re-insert after delete opens a fresh version even with
    identical tracked values."""
    t = ManagedTable(spark, "c2tb", str(tmp_path / "c2tb"))
    kw = dict(
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2, track_history_except_column_list=["note"],
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "k long, status string, note string, seq long, op string"
    )
    apply_changes(
        t,
        mk([
            (1, "s", "a", 1, "upsert"),
            (1, "s", "b", 2, "upsert"),   # collapses into seq-1 version
            (1, "s", "b", 3, "delete"),   # closes it at 3
            (1, "s", "c", 4, "upsert"),   # fresh version after delete
        ]),
        ["k"], "seq", **kw,
    )
    rows = {
        r["note"]: (r["status"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    }
    assert rows == {"b": ("s", 1, 3), "c": ("s", 4, None)}


def test_scd1_rejects_track_history(spark, tmp_path):
    import pytest

    t = _scd1(spark, tmp_path, "c1th")
    with pytest.raises(ValueError, match="SCD type 2 only"):
        apply_changes(
            t, _changes(spark, [(1, "a", 1, "upsert")]), ["k"], "seq",
            track_history_column_list=["val"],
        )


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k long, val string")


def test_snapshot_apply_scd1_insert_update_delete(spark, tmp_path):
    """apply_changes_from_snapshot derives the change set by diffing
    full snapshots: inserts, value-updates, and disappearances →
    deletes; unchanged keys emit nothing."""
    from databricks_data_warehouse_spark.pipelines.cdc import (
        apply_changes_from_snapshot,
    )

    t = _scd1(spark, tmp_path, "snap1")
    apply_changes_from_snapshot(
        t, _snap(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"], 1
    )
    got = {r["k"]: r["val"] for r in scd1_current(t).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # snapshot 2: k=1 updated, k=2 unchanged, k=3 gone, k=4 new
    apply_changes_from_snapshot(
        t, _snap(spark, [(1, "a2"), (2, "b"), (4, "d")]), ["k"], 2
    )
    got = {
        r["k"]: (r["val"], r["__snap_seq"])
        for r in scd1_current(t).collect()
    }
    # unchanged k=2 kept its ORIGINAL version stamp (no event emitted)
    assert got == {1: ("a2", 2), 2: ("b", 1), 4: ("d", 2)}
    # the deleted key holds a sequenced tombstone
    ts = t.read().where("k = 3").collect()
    assert len(ts) == 1 and ts[0]["__snap_seq"] == 2


def test_snapshot_apply_replay_is_noop(spark, tmp_path):
    from databricks_data_warehouse_spark.pipelines.cdc import (
        apply_changes_from_snapshot,
    )

    t = _scd1(spark, tmp_path, "snap1r")
    s = _snap(spark, [(1, "a"), (2, "b")])
    apply_changes_from_snapshot(t, s, ["k"], 1)
    v = t.current_version()
    apply_changes_from_snapshot(t, s, ["k"], 1)  # replay
    apply_changes_from_snapshot(t, s, ["k"], 2)  # unchanged next snap
    assert t.current_version() == v  # both commit-free
    assert {r["k"] for r in scd1_current(t).collect()} == {1, 2}


def test_snapshot_apply_scd2_builds_history(spark, tmp_path):
    from databricks_data_warehouse_spark.pipelines.cdc import (
        apply_changes_from_snapshot,
    )

    t = ManagedTable(spark, "snap2", str(tmp_path / "snap2"))
    apply_changes_from_snapshot(
        t, _snap(spark, [(1, "a"), (2, "b")]), ["k"], 1,
        stored_as_scd_type=2,
    )
    apply_changes_from_snapshot(
        t, _snap(spark, [(1, "a2")]), ["k"], 2, stored_as_scd_type=2,
    )  # k=1 updated, k=2 disappeared -> delete closes its version
    apply_changes_from_snapshot(
        t, _snap(spark, [(1, "a2"), (2, "b3")]), ["k"], 3,
        stored_as_scd_type=2,
    )  # k=2 resurrected, k=1 unchanged
    rows = {
        (r["k"], r["val"]): (r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    }
    assert rows == {
        (1, "a"): (1, 2),
        (1, "a2"): (2, None),
        (2, "b"): (1, 2),
        (2, "b3"): (3, None),
    }


def test_scd2_rebuild_plan_has_no_single_partition_exchange(spark, tmp_path):
    """Scale pin for the event-splice rebuild: every window in
    _rebuild_history partitions by the keys (+ version group) — no
    global SinglePartition exchange may appear, whatever the slice
    size."""
    from databricks_data_warehouse_spark.pipelines.cdc import (
        _rebuild_history,
    )

    events = (
        spark.range(0, 1000)
        .selectExpr(
            "id % 100 as k",
            "cast(id as string) as val",
            "cast(id / 100 as long) + 1 as seq",
            "false as __del",
            "1 as __src",
        )
    )
    out = _rebuild_history(
        events, ["k"], "seq", None, ["k", "val", "__START_AT", "__END_AT"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # tracked-subset mode adds lag comparisons but must keep the shape
    out_t = _rebuild_history(
        events, ["k"], "seq", ["val"],
        ["k", "val", "__START_AT", "__END_AT"],
    )
    plan_t = out_t._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan_t


def test_scd2_delete_before_insert_is_tombstoned(spark, tmp_path):
    """A delete for a key with NO stored history must persist as a
    zero-width tombstone: a later-arriving EARLIER upsert splices in
    closed at the delete's sequence instead of resurrecting the key
    open-ended (the hypothesis counterexample that motivated the
    tombstone design)."""
    t = ManagedTable(spark, "c2t", str(tmp_path / "c2t"))
    apply_changes(
        t, _changes(spark, [(1, "x", 2, "delete")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    assert scd2_history(t).count() == 0  # nothing visible...
    assert t.read().count() == 1         # ...but the tombstone stored
    apply_changes(
        t, _changes(spark, [(1, "v1", 1, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    rows = [
        (r["val"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    ]
    assert rows == [("v1", 1, 2)]
    # replaying the delete batch is still a commit-free no-op
    v = t.current_version()
    apply_changes(
        t, _changes(spark, [(1, "x", 2, "delete")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    assert t.current_version() == v


def test_scd2_consecutive_deletes_both_tombstoned(spark, tmp_path):
    """The second of two back-to-back deletes closes no row, but a
    late upsert spliced between them must still end at the SECOND
    delete's sequence — so it needs its own tombstone too."""
    t = ManagedTable(spark, "c2u", str(tmp_path / "c2u"))
    b = _changes(
        spark,
        [(1, "v1", 1, "upsert"), (1, "x", 3, "delete"),
         (1, "y", 5, "delete")],
    )
    apply_changes(
        t, b, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
    )
    assert [
        (r["val"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    ] == [("v1", 1, 3)]
    apply_changes(
        t, _changes(spark, [(1, "v2", 4, "upsert")]), ["k"], "seq",
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    rows = sorted(
        (r["val"], r[START_COL], r[END_COL])
        for r in scd2_history(t).collect()
    )
    assert rows == [("v1", 1, 3), ("v2", 4, 5)]


def test_scd2_track_history_late_splice_resolves_by_true_event_order(
    spark, tmp_path
):
    """VERDICT r10 item 5: a late event splicing INTO an
    already-collapsed version must resolve untracked columns by TRUE
    event order. seq 1 (u=A) and seq 3 (u=C) collapse into one
    version (v unchanged); a late seq-2 event (u=B) splices BETWEEN
    them — the version's untracked value must stay C (latest true
    event), not become B (latest reconstructed event, the old lossy
    behavior)."""
    t = ManagedTable(spark, "thl", str(tmp_path / "thl"))
    b1 = spark.createDataFrame(
        [(1, 10, "A", 1, "upsert"), (1, 10, "C", 3, "upsert")],
        "k long, v long, u string, seq long, op string",
    )
    apply_changes(
        t, b1, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
        track_history_column_list=["v"],
    )
    hist1 = scd2_history(t).collect()
    assert len(hist1) == 1 and hist1[0]["u"] == "C"
    late = spark.createDataFrame(
        [(1, 10, "B", 2, "upsert")],
        "k long, v long, u string, seq long, op string",
    )
    apply_changes(
        t, late, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
        track_history_column_list=["v"],
    )
    hist2 = scd2_history(t).collect()
    assert len(hist2) == 1
    assert hist2[0]["u"] == "C"  # true event order, not splice order
    assert hist2[0][START_COL] == 1 and hist2[0][END_COL] is None


def test_scd2_track_history_untracked_replay_is_commit_free(
    spark, tmp_path
):
    """With __EVENTS stored, replaying an untracked-only event dedupes
    against the stored event (not just the version row) — zero
    commits, not merely state-idempotent."""
    t = ManagedTable(spark, "thr", str(tmp_path / "thr"))
    b1 = spark.createDataFrame(
        [(1, 10, "A", 1, "upsert"), (1, 10, "B", 2, "upsert")],
        "k long, v long, u string, seq long, op string",
    )
    apply_changes(
        t, b1, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
        track_history_column_list=["v"],
    )
    v = t.current_version()
    replay = spark.createDataFrame(
        [(1, 10, "A", 1, "upsert")],
        "k long, v long, u string, seq long, op string",
    )
    apply_changes(
        t, replay, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
        track_history_column_list=["v"],
    )
    assert t.current_version() == v  # no commit
    hist = scd2_history(t).collect()
    assert len(hist) == 1 and hist[0]["u"] == "B"


def _race_apply(spark, tmp_path, name, batch1_rows, batch2_rows):
    """Run two apply_changes 'concurrently': the first apply's commit
    is interposed so the second apply lands a REAL winning commit
    first — the first write then raises ConcurrentWriteError (a true
    version-file collision, not a simulation) and its retry must
    converge to the serial fixpoint."""
    import pytest as _pytest

    from databricks_data_warehouse_spark.sources.tables import (
        ConcurrentWriteError,
    )

    loc = str(tmp_path / name)
    seed = spark.createDataFrame(
        [(1, 100, 1, "upsert"), (2, 200, 1, "upsert")],
        "k long, v long, seq long, op string",
    )
    kw = dict(
        apply_as_deletes="op = 'delete'", except_columns=["op"],
        stored_as_scd_type=2,
    )
    t0 = ManagedTable(spark, name, loc)
    apply_changes(t0, seed, ["k"], "seq", **kw)

    def df_of(rows):
        return spark.createDataFrame(
            rows, "k long, v long, seq long, op string"
        )

    t1 = ManagedTable(spark, name, loc)
    t2 = ManagedTable(spark, name, loc)
    # the racing writer commits FIRST, against the same base
    with race(
        t1, lambda: apply_changes(t2, df_of(batch2_rows), ["k"], "seq", **kw)
    ) as fired, _pytest.raises(ConcurrentWriteError):
        apply_changes(t1, df_of(batch1_rows), ["k"], "seq", **kw)
    assert fired
    # loser retries on a fresh handle (sees the winner's commit)
    t3 = ManagedTable(spark, name, loc)
    apply_changes(t3, df_of(batch1_rows), ["k"], "seq", **kw)
    # serial reference on a fresh table: seed, batch2, batch1
    ref = ManagedTable(spark, name + "_ref", str(tmp_path / (name + "_ref")))
    apply_changes(ref, seed, ["k"], "seq", **kw)
    apply_changes(ref, df_of(batch2_rows), ["k"], "seq", **kw)
    apply_changes(ref, df_of(batch1_rows), ["k"], "seq", **kw)
    key = lambda df: sorted(
        (r["k"], r["v"], r[START_COL], r[END_COL])
        for r in scd2_history(df).collect()
    )
    assert key(t3) == key(ref)


@pytest.mark.slow
def test_apply_changes_concurrent_disjoint_keys_converges(spark, tmp_path):
    """VERDICT r10 item 8: two racing applies on DISJOINT keys — the
    loser hits a real ConcurrentWriteError and its retry converges to
    the serial result."""
    _race_apply(
        spark, tmp_path, "race_dis",
        [(1, 111, 2, "upsert")],
        [(2, 222, 2, "upsert")],
    )


@pytest.mark.slow
def test_apply_changes_concurrent_overlapping_keys_converges(
    spark, tmp_path
):
    """VERDICT r10 item 8: racing applies on the SAME key (different
    sequences, one a delete) — loser's retry splices into the winner's
    history and converges to the serial fixpoint."""
    _race_apply(
        spark, tmp_path, "race_ovl",
        [(1, 111, 3, "upsert")],
        [(1, 0, 2, "delete")],
    )


# ---------------------------------------------------- round 12: ADVICE r11


def _tracked_changes(spark, rows):
    # (k, status, price, seq, op) — status tracked, price untracked
    return spark.createDataFrame(
        rows, "k long, status string, price double, seq long, op string"
    )


def _apply_tracked(t, ch, **kw):
    return apply_changes(
        t, ch, ["k"], "seq", apply_as_deletes="op = 'delete'",
        except_columns=["op"], stored_as_scd_type=2,
        track_history_column_list=["status"], **kw,
    )


def test_untracked_apply_onto_tracked_target_raises(spark, tmp_path):
    """ADVICE r11: a batch WITHOUT track-history options applied to a
    target created in tracked mode must raise a clear ValueError, not
    crash with a missing-__EVENTS AnalysisException."""
    import pytest

    t = ManagedTable(spark, "mm", str(tmp_path / "mm"))
    _apply_tracked(t, _tracked_changes(spark, [(1, "S0", 1.0, 1, "upsert")]))
    with pytest.raises(ValueError, match="TRACK HISTORY"):
        apply_changes(
            t,
            _tracked_changes(spark, [(1, "S0", 2.0, 2, "upsert")]),
            ["k"], "seq", apply_as_deletes="op = 'delete'",
            except_columns=["op"], stored_as_scd_type=2,
        )


def test_scd2_history_hides_events_column(spark, tmp_path):
    """ADVICE r11: __EVENTS is physical bookkeeping (like tombstones),
    not part of the visible tracked-mode schema — enabling TRACK
    HISTORY must not change downstream readers' shape."""
    t = ManagedTable(spark, "hv", str(tmp_path / "hv"))
    _apply_tracked(t, _tracked_changes(spark, [(1, "S0", 1.0, 1, "upsert")]))
    assert "__EVENTS" in [f.name for f in t.schema.fields]  # stored
    assert "__EVENTS" not in scd2_history(t).columns        # not exposed


def test_tracked_events_array_is_bounded(spark, tmp_path):
    """VERDICT r11 item 5: a hot key's untracked churn must not grow
    its SCD2 row without bound — the per-version __EVENTS array keeps
    the LAST track_history_max_events events, resolution still takes
    the latest values, and history row counts stay exact."""
    t = ManagedTable(spark, "hot", str(tmp_path / "hot"))
    n = 500
    rows = [(1, "S0", float(s), s, "upsert") for s in range(1, n + 1)]
    _apply_tracked(
        t, _tracked_changes(spark, rows), track_history_max_events=16
    )
    hist = scd2_history(t).collect()
    assert len(hist) == 1                       # untracked churn: one version
    assert hist[0]["price"] == float(n)         # latest event's values win
    stored = t.read().where(F.col(END_COL).isNull()).collect()
    assert len(stored[0]["__EVENTS"]) == 16     # bounded, not n
    assert stored[0]["__EVENTS"][-1]["seq"] == n  # ... and it kept the tail
    # a tracked flip after the capped churn still opens a new version
    _apply_tracked(
        t,
        _tracked_changes(spark, [(1, "S1", -1.0, n + 1, "upsert")]),
        track_history_max_events=16,
    )
    hist2 = sorted(scd2_history(t).collect(), key=lambda r: r[START_COL])
    assert len(hist2) == 2
    assert hist2[0][END_COL] == n + 1 and hist2[1]["status"] == "S1"


def test_capped_replay_converges(spark, tmp_path):
    """An event aged out of the capped array loses exact-replay dedup
    only: replaying it re-splices to the SAME history (idempotent
    outcome), never a wrong one."""
    t = ManagedTable(spark, "rp", str(tmp_path / "rp"))
    rows = [(1, "S0", float(s), s, "upsert") for s in range(1, 41)]
    _apply_tracked(
        t, _tracked_changes(spark, rows), track_history_max_events=8
    )
    before = sorted(
        scd2_history(t).collect(), key=lambda r: r[START_COL]
    )
    # replay an event that was aged out of the stored array (seq 3)
    _apply_tracked(
        t,
        _tracked_changes(spark, [(1, "S0", 3.0, 3, "upsert")]),
        track_history_max_events=8,
    )
    after = sorted(scd2_history(t).collect(), key=lambda r: r[START_COL])
    keep = ["k", "status", "price", START_COL, END_COL]
    assert [[r[c] for c in keep] for r in after] == [
        [r[c] for c in keep] for r in before
    ]


def test_capped_gap_splice_exact_within_anchor_cap(spark, tmp_path):
    """Round 13 (VERDICT r12 item 7): the seqs of cap-dropped events
    persist as __GAP_ANCHORS, so a late tracked change into an
    aged-out span closes at the TRUE next event boundary — the history
    EQUALS the uncapped (full-history) splice whenever the gap fits
    the anchor cap."""
    rows = [(1, "S0", float(s), s, "upsert") for s in (1, 2, *range(4, 16))]
    late = [(1, "S1", 3.0, 3, "upsert")]
    # capped build (cap 8 keeps first + last 7: seqs 2..8 age out,
    # but their anchors fit the cap of 8) then the late splice
    t = ManagedTable(spark, "gapx", str(tmp_path / "gapx"))
    _apply_tracked(
        t, _tracked_changes(spark, rows), track_history_max_events=8
    )
    _apply_tracked(
        t, _tracked_changes(spark, late), track_history_max_events=8
    )
    # uncapped reference: same events, one big cap
    ref = ManagedTable(spark, "gapref", str(tmp_path / "gapref"))
    _apply_tracked(t=ref, ch=_tracked_changes(spark, rows))
    _apply_tracked(t=ref, ch=_tracked_changes(spark, late))
    keep = ["status", START_COL, END_COL]

    def hist(tb):
        return [
            tuple(r[c] for c in keep)
            for r in sorted(
                scd2_history(tb).collect(), key=lambda r: r[START_COL]
            )
        ]

    got, want = hist(t), hist(ref)
    # S1 closes at the TRUE next event (4 — an aged-out seq known only
    # through its anchor), identical to the uncapped splice
    assert got == want == [("S0", 1, 3), ("S1", 3, 4), ("S0", 4, None)]


def test_capped_gap_splice_exact_beyond_cap(spark, tmp_path):
    """Round 15 (VERDICT r14 item 4): when the aged-out span exceeds
    the per-row anchor cap, the FULL dropped-seq set persists in the
    _gap_anchors side store — a splice into the gap closes at the
    TRUE next event boundary, EQUAL to the uncapped history. Pins
    (a) beyond-cap exactness and (b) idempotence."""
    import os as _os

    from databricks_data_warehouse_spark.pipelines.cdc import (
        _SIDE_ANCHOR_DIR,
    )

    t = ManagedTable(spark, "gap", str(tmp_path / "gap"))
    rows = [(1, "S0", float(s), s, "upsert") for s in (1, 2, *range(4, 41))]
    _apply_tracked(
        t, _tracked_changes(spark, rows), track_history_max_events=8
    )
    # events kept: [1] + [34..40]; dropped seqs 2,4..33 (32 anchors >
    # cap 8): the per-row array subsamples, the side store keeps all
    assert _os.path.isdir(_os.path.join(t.location, _SIDE_ANCHOR_DIR))
    _apply_tracked(
        t,
        _tracked_changes(spark, [(1, "S1", 3.0, 3, "upsert")]),
        track_history_max_events=8,
    )
    keep = ["status", START_COL, END_COL]
    hist = [
        tuple(r[c] for c in keep)
        for r in sorted(scd2_history(t).collect(), key=lambda r: r[START_COL])
    ]
    # S1 closes at the TRUE next event (4), exactly as the uncapped
    # reference would — the pre-r15 subsampled rule closed at 7
    assert hist == [("S0", 1, 3), ("S1", 3, 4), ("S0", 4, None)]
    # idempotence: the same splice again is a no-op on the history
    _apply_tracked(
        t,
        _tracked_changes(spark, [(1, "S1", 3.0, 3, "upsert")]),
        track_history_max_events=8,
    )
    hist2 = [
        tuple(r[c] for c in keep)
        for r in sorted(scd2_history(t).collect(), key=lambda r: r[START_COL])
    ]
    assert hist2 == hist
    # replay of an aged-out event beyond the cap is commit-free: its
    # seq is in the side store even though the per-row anchors
    # subsampled it away
    v = t.current_version()
    _apply_tracked(
        t,
        _tracked_changes(spark, [(1, "S0", 9.0, 9, "upsert")]),
        track_history_max_events=8,
    )
    assert t.current_version() == v


def test_capped_replay_of_aged_event_is_commit_free(spark, tmp_path):
    """Round 13: replaying an event whose seq aged out of __EVENTS now
    dedupes against its __GAP_ANCHORS anchor — a commit-free no-op
    (previously it re-spliced: same history, one extra commit)."""
    t = ManagedTable(spark, "rpnc", str(tmp_path / "rpnc"))
    rows = [(1, "S0", float(s), s, "upsert") for s in range(1, 13)]
    _apply_tracked(
        t, _tracked_changes(spark, rows), track_history_max_events=8
    )
    v0 = t.current_version()
    # seq 3 aged out (cap 8 keeps 1 + 6..12) but its anchor persists
    _apply_tracked(
        t,
        _tracked_changes(spark, [(1, "S0", 3.0, 3, "upsert")]),
        track_history_max_events=8,
    )
    assert t.current_version() == v0  # zero version churn
