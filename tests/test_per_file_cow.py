"""Per-FILE copy-on-write (round 15): a CoW DELETE/UPDATE/MERGE
retires exactly the data files holding matched rows; untouched
neighbors in the same manifest entry re-enter the manifest as
file-granular CARRY entries (``<base>@carry:<file rel>``) and are
never rewritten, re-delivered, or wrongly vacuumed. This finishes
Delta's per-file CoW parity: two CoW DMLs matching rows in DIFFERENT
files of the SAME entry of an unpartitioned table land in parallel
(reference behavior target: Delta Lake OptimisticTransaction /
ConflictChecker AddFile-RemoveFile granularity)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.tables import (
    ConcurrentWriteError,
    ManagedTable,
    _base_key,
    _rel_is_file,
)


def _two_halves(spark):
    return (
        spark.range(0, 10)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .unionAll(
            spark.range(100, 110).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            )
        )
    )


def _mk_one_entry(spark, tmp_path, name):
    """UNPARTITIONED table with ONE manifest entry holding TWO files:
    low half ids 0-9, high half ids 100-109 (deterministic split)."""
    t = ManagedTable(spark, name, str(tmp_path / name))
    df = _two_halves(spark)
    # deterministic two-file split (a sampled repartitionByRange
    # boundary could drift): a k-sorted single partition rolled to a
    # new file after the low half via maxRecordsPerFile
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try:
        t.overwrite(df.coalesce(1).sortWithinPartitions("k"))
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
    man = t._read_manifest(t.current_version())
    assert len(man) == 1, "fixture wants a single entry"
    assert len(t._read_stats(t.current_version())) == 2, (
        "fixture wants two files in the entry"
    )
    return t


def _handle(spark, tmp_path, name):
    return ManagedTable(spark, name, str(tmp_path / name))


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


def _all_keys(extra_gone=()):
    gone = set(extra_gone)
    return sorted(
        (k, k * 10)
        for k in list(range(10)) + list(range(100, 110))
        if k not in gone
    )


def test_cow_delete_carries_neighbor_file_in_same_entry(spark, tmp_path):
    """DELETE matching one file of a two-file entry: the neighbor file
    survives BYTE-IDENTICAL as a carry entry; only the matched file's
    survivors restage."""
    t = _mk_one_entry(spark, tmp_path, "pf1")
    v0 = t.current_version()
    stats0 = t._read_stats(v0)
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    v1 = t.current_version()
    man = t._read_manifest(v1)
    carry = {k: rel for k, rel in man.items() if _rel_is_file(rel)}
    assert len(carry) == 1, "one neighbor file carried"
    (ck, crel), = carry.items()
    assert "@carry:" in ck and _base_key(ck) not in (None, "")
    assert crel in stats0, "carried file kept its stats key"
    # the carried file is the physical file from before, untouched
    assert os.path.isfile(os.path.join(t.location, crel))
    assert _rows(t) == _all_keys({3})
    # exactly one staged dir + one carry entry; the old dir entry gone
    assert len(man) == 2


def test_cow_update_carries_neighbor_file(spark, tmp_path):
    t = _mk_one_entry(spark, tmp_path, "pf2")
    t.update_where({"v": "v + 1"}, F.col("k") == 105, deletion_vectors=False)
    man = t._read_manifest(t.current_version())
    assert sum(_rel_is_file(r) for r in man.values()) == 1
    got = {r.k: r.v for r in t.read().collect()}
    assert got[105] == 1051 and got[3] == 30 and len(got) == 20


def test_same_entry_disjoint_cow_deletes_both_land(spark, tmp_path):
    """THE round-15 headline: two CoW DELETEs matching rows in
    DIFFERENT FILES of the SAME entry of an unpartitioned table —
    the loser rebases at file granularity, both land."""
    t = _mk_one_entry(spark, tmp_path, "pf3")
    loser = _handle(spark, tmp_path, "pf3")
    winner = _handle(spark, tmp_path, "pf3")
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
    assert _rows(t) == _all_keys({3, 105})


def test_same_entry_same_file_cow_deletes_raise(spark, tmp_path):
    """Both DMLs match rows in the SAME file: genuine overlap,
    first-writer-wins."""
    t = _mk_one_entry(spark, tmp_path, "pf4")
    loser = _handle(spark, tmp_path, "pf4")
    winner = _handle(spark, tmp_path, "pf4")
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


def test_same_entry_disjoint_cow_merges_both_land(spark, tmp_path):
    """Two unscoped CoW merges firing on different files of ONE entry:
    key-set read predicates + per-file write sets prove disjointness."""
    t = _mk_one_entry(spark, tmp_path, "pf5")
    loser = _handle(spark, tmp_path, "pf5")
    winner = _handle(spark, tmp_path, "pf5")
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


def test_cow_then_dv_delete_on_carried_file(spark, tmp_path):
    """A carried file is fully first-class: a later DV DELETE marks
    rows in it (DV keyed by the same file key), reads apply it."""
    t = _mk_one_entry(spark, tmp_path, "pf6")
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    t.delete_where(F.col("k") == 104)  # DV path, lands on the carry
    dv, _ = t._read_dv(t.current_version())
    man_rels = set(t._read_manifest(t.current_version()).values())
    assert any(f in man_rels for f in dv), "DV keyed on the carry entry"
    assert _rows(t) == _all_keys({3, 104})


def test_second_cow_splits_carried_file(spark, tmp_path):
    """A second CoW DML matching rows in a CARRIED file retires just
    that file entry (no dir left to split)."""
    t = _mk_one_entry(spark, tmp_path, "pf7")
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    t.delete_where(F.col("k") == 104, deletion_vectors=False)
    assert _rows(t) == _all_keys({3, 104})
    man = t._read_manifest(t.current_version())
    # carry entry replaced by the second DML's staged dir
    assert sum(_rel_is_file(r) for r in man.values()) == 0


def test_vacuum_keeps_carried_file_sweeps_dead_neighbor(spark, tmp_path):
    """vacuum() after a per-file CoW: the carried file survives (its
    dir left the manifests but the carry entry references it); the
    matched file's OLD version is swept."""
    t = _mk_one_entry(spark, tmp_path, "pf8")
    v0 = t.current_version()
    stats0 = set(t._read_stats(v0))
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    man = t._read_manifest(t.current_version())
    carried = {rel for rel in man.values() if _rel_is_file(rel)}
    (crel,) = carried
    dead = sorted(stats0 - carried)  # the rewritten file's old version
    assert len(dead) == 1
    t.vacuum(keep=1)
    assert os.path.isfile(os.path.join(t.location, crel))
    assert not os.path.exists(os.path.join(t.location, dead[0]))
    assert _rows(t) == _all_keys({3})


def test_time_travel_before_per_file_cow(spark, tmp_path):
    t = _mk_one_entry(spark, tmp_path, "pf9")
    v0 = t.current_version()
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    assert sorted(
        (r.k, r.v) for r in t.read(version=v0).collect()
    ) == _all_keys()


def test_cdf_staged_diff_excludes_carried_rows(spark, tmp_path):
    """CDF on a per-file CoW DELETE: the staged diff holds ONLY the
    deleted rows — the carried neighbor's rows never appear as
    delete+insert churn."""
    t = _mk_one_entry(spark, tmp_path, "pf10")
    t.set_properties({"delta.enableChangeDataFeed": "true"})
    v0 = t.current_version()
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    v1 = t.current_version()
    step = t.changes(v0, v1)
    got = sorted((r.k, r.v, r._change_type) for r in step.collect())
    assert got == [(3, 30, "delete")]
    assert t.last_changes_strategy == "staged"


def test_row_ids_preserved_through_per_file_cow(spark, tmp_path):
    """Row tracking: carried rows keep their ids trivially (file
    untouched); the matched file's survivors keep theirs through the
    restage."""
    t = ManagedTable(spark, "pf11", str(tmp_path / "pf11"))
    t.set_properties({"delta.enableRowTracking": "true"})
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try:
        t.overwrite(
            _two_halves(spark).coalesce(1).sortWithinPartitions("k")
        )
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
    before = {
        r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()
    }
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    after = {
        r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()
    }
    assert 3 not in after
    for k, rid in after.items():
        assert before[k] == rid, f"row id of k={k} changed"


def test_scan_pruning_with_carry_entries_is_exact(spark, tmp_path):
    """Stats-pruned scan over a manifest holding carry entries ≡ the
    full read + filter, and the carried file's stats still prune."""
    t = _mk_one_entry(spark, tmp_path, "pf12")
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    got = sorted(
        (r.k, r.v) for r in t.scan([("k", ">=", 100)]).collect()
    )
    assert got == [(k, k * 10) for k in range(100, 110)]
    # pruning proof: a predicate outside the carried file's bounds
    # opens fewer files than the manifest holds
    assert len(t._prune([("k", "<", 50)], None)[0]) == 1


def test_compact_folds_carry_entries_back(spark, tmp_path):
    """OPTIMIZE bin-packing treats carry entries as compaction
    candidates: after compact() the partition is one dir again and
    row content is unchanged."""
    t = _mk_one_entry(spark, tmp_path, "pf13")
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    t.optimize(min_small_files=2)
    man = t._read_manifest(t.current_version())
    assert sum(_rel_is_file(r) for r in man.values()) == 0
    assert _rows(t) == _all_keys({3})


def test_reorg_purges_carried_file_alone(spark, tmp_path):
    """REORG PURGE groups by covering REL: a DV'd carried file purges
    alone and the retired (pre-CoW) neighbor versions on disk are
    never resurrected by a whole-dir rescan."""
    t = _mk_one_entry(spark, tmp_path, "pf14")
    t.delete_where(F.col("k") == 3, deletion_vectors=False)  # CoW split
    t.delete_where(F.col("k") == 104)  # DV on the carried file
    v = t.reorg(min_dv_fraction=0.0)
    assert v == t.current_version()
    dv, _ = t._read_dv(t.current_version())
    assert not dv, "purge materialized the vector"
    assert _rows(t) == _all_keys({3, 104})


def test_datasource_read_covers_carry_entries(spark, tmp_path):
    """The Catalyst DataSource reader plans carry entries as single
    file partitions (an os.walk of a file path yields nothing — the
    round-15 fix emits the file directly)."""
    t = _mk_one_entry(spark, tmp_path, "pf15")
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    from databricks_data_warehouse_spark.sources.datasource import register

    register(spark)
    df = (
        spark.read.format("managed_table")
        .option("location", t.location)
        .load()
    )
    assert sorted((r.k, r.v) for r in df.collect()) == _all_keys({3})


def test_stream_does_not_redeliver_carried_files(spark, tmp_path):
    """A streaming read over a per-file CoW commit (ignoreChanges)
    re-delivers the REWRITTEN file's survivors only — carried files
    are unchanged data, not adds."""
    from databricks_data_warehouse_spark.sources.datasource import (
        ManagedTableStreamReader,
    )

    t = _mk_one_entry(spark, tmp_path, "pf16")
    v0 = t.current_version()
    t.delete_where(F.col("k") == 3, deletion_vectors=False)
    v1 = t.current_version()
    reader = ManagedTableStreamReader(
        t.read().schema,
        {"location": t.location, "ignorechanges": "true"},
    )
    parts = reader.partitions(
        {"version": v0}, {"version": v1}
    )
    planned = {p.path for p in parts if getattr(p, "path", None)}
    man = t._read_manifest(v1)
    carried = {
        os.path.join(t.location, rel)
        for rel in man.values()
        if _rel_is_file(rel)
    }
    assert carried and not (planned & carried), (
        "carried files must not re-deliver"
    )
    assert planned, "the rewritten survivors do deliver"
