"""Round 14: identity columns under merge-on-read MERGE and the
high-watermark claim under concurrency (Delta's identity conflict
rule). The claim is validated and bumped atomically with EVERY commit
attempt — including after a blind or file-disjoint rebase — so a
racing mint forces the loser to discard and re-mint, while a racing
non-minting commit (a DV delete elsewhere) rebases and keeps its ids.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.tables import (
    ConcurrentWriteError,
    ManagedTable,
)


def _mk(spark, tmp_path, name):
    """Identity table (start=100, step=1) with TWO files:
    k 0-4 (ids 100-104) and k 50-54 (ids 105-109)."""
    t = ManagedTable(spark, name, str(tmp_path / name))
    t.set_identity_column("id", start=100, step=1)
    t.create_if_not_exists(
        spark.createDataFrame([], "id long, k long, v double").schema
    )
    t.append(
        spark.range(0, 5)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .coalesce(1)
    )
    t.append(
        spark.range(50, 55)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .coalesce(1)
    )
    return t


def _handle(spark, tmp_path, name):
    return ManagedTable(spark, name, str(tmp_path / name))


def _src(spark, rows):
    return spark.createDataFrame(rows, "k long, v double").coalesce(1)


def _ids(t):
    return sorted(r.id for r in t.read().collect())


def test_dv_identity_merge_rebases_over_nonminting_writer(
    spark, tmp_path
):
    """A DV identity MERGE racing a DV DELETE on the OTHER file: the
    loser rebases (files disjoint, watermark untouched) and its minted
    ids land unchanged."""
    t = _mk(spark, tmp_path, "im1")
    loser = _handle(spark, tmp_path, "im1")
    winner = _handle(spark, tmp_path, "im1")
    with race(
        loser, lambda: winner.delete_where(F.col("k") == 52)
    ) as fired:
        loser.merge_clauses(
            _src(spark, [(1, 11.0), (200, 200.0)]),
            ["k"],
            matched=[(None, {"v": "src.v"})],
            not_matched=[(None, "insert_all")],
            deletion_vectors=True,
        )
    assert fired
    rows = {r.k: (r.id, r.v) for r in t.read().collect()}
    assert 52 not in rows  # winner landed
    assert rows[1] == (101, 11.0)  # rewrite kept its id
    assert rows[200] == (110, 200.0)  # mint survived the rebase
    assert len(set(_ids(t))) == len(_ids(t))  # ids unique


def test_dv_identity_merge_reminted_after_racing_mint(spark, tmp_path):
    """A DV identity MERGE racing an identity APPEND (which consumes
    watermark ids): the loser discards and raises; a re-run mints
    fresh, non-colliding ids."""
    t = _mk(spark, tmp_path, "im2")
    loser = _handle(spark, tmp_path, "im2")
    winner = _handle(spark, tmp_path, "im2")
    with race(
        loser,
        lambda: winner.append(_src(spark, [(300, 300.0)])),
    ) as fired:
        with pytest.raises(ConcurrentWriteError, match="watermark moved"):
            loser.merge_clauses(
                _src(spark, [(400, 400.0)]),
                ["k"],
                not_matched=[(None, "insert_all")],
                deletion_vectors=True,
            )
    assert fired
    # re-run on a fresh handle: fresh ids, no collision with winner's
    retry = _handle(spark, tmp_path, "im2")
    retry.merge_clauses(
        _src(spark, [(400, 400.0)]),
        ["k"],
        not_matched=[(None, "insert_all")],
        deletion_vectors=True,
    )
    ids = _ids(t)
    assert len(set(ids)) == len(ids) == 12  # 10 base + winner + retry
    rows = {r.k: r.id for r in t.read().collect()}
    assert rows[300] == 110 and rows[400] == 111


def test_identity_append_rebases_over_nonminting_writer(spark, tmp_path):
    """Round 14 relaxation: an identity APPEND racing a non-minting
    commit rebases instead of raising (the claim re-validates against
    the winner's watermark — previously any identity_claim forfeited
    the blind-append rebase)."""
    t = _mk(spark, tmp_path, "im3")
    loser = _handle(spark, tmp_path, "im3")
    winner = _handle(spark, tmp_path, "im3")
    with race(
        loser, lambda: winner.delete_where(F.col("k") == 0)
    ) as fired:
        loser.append(_src(spark, [(500, 500.0)]))
    assert fired
    rows = {r.k: r.id for r in t.read().collect()}
    assert 0 not in rows
    assert rows[500] == 110


def test_identity_append_race_loser_remints(spark, tmp_path):
    """Two identity APPENDs racing: the loser's claim fails on the
    consumed watermark and its re-run mints unique ids."""
    t = _mk(spark, tmp_path, "im4")
    loser = _handle(spark, tmp_path, "im4")
    winner = _handle(spark, tmp_path, "im4")
    with race(
        loser, lambda: winner.append(_src(spark, [(600, 600.0)]))
    ) as fired:
        with pytest.raises(ConcurrentWriteError, match="watermark moved"):
            loser.append(_src(spark, [(700, 700.0)]))
    assert fired
    retry = _handle(spark, tmp_path, "im4")
    retry.append(_src(spark, [(700, 700.0)]))
    ids = _ids(t)
    assert len(set(ids)) == len(ids) == 12
    rows = {r.k: r.id for r in t.read().collect()}
    assert rows[600] == 110 and rows[700] == 111


def test_sql_merge_identity_routes_merge_on_read(spark, tmp_path):
    """SQL MERGE on an identity table with deletion vectors enabled
    now takes the merge-on-read path (history op MERGE (DV)) and
    mints through it."""
    from databricks_data_warehouse_spark.sources.sql_dml import SqlSession

    t = _mk(spark, tmp_path, "im5")
    t.set_properties({"delta.enableDeletionVectors": "true"})
    sess = SqlSession(spark)
    sess.register(t, "im5")
    spark.createDataFrame(
        [(1, 1.5), (900, 900.0)], "k long, v double"
    ).coalesce(1).createOrReplaceTempView("im5_src")
    sess.sql(
        "MERGE INTO im5 USING im5_src AS s ON im5.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    t2 = _handle(spark, tmp_path, "im5")
    assert t2.history()[0]["operation"] == "MERGE (DV)"
    rows = {r.k: (r.id, r.v) for r in t2.read().collect()}
    assert rows[1] == (101, 1.5)
    assert rows[900][0] == 110


def test_identity_merge_dv_with_row_tracking(spark, tmp_path):
    """Round 14 combination: row tracking AND identity columns under a
    merge-on-read MERGE — the rewrite keeps BOTH the durable row id
    and the identity value of matched rows, an insert mints fresh
    values on BOTH watermarks, and untouched files never rewrite."""
    t = ManagedTable(spark, "imrt", str(tmp_path / "imrt"))
    t.set_identity_column("id", start=100, step=1)
    t.create_if_not_exists(
        spark.createDataFrame([], "id long, k long, v double").schema
    )
    t.set_properties({"delta.enableRowTracking": "true"})
    t.append(_src(spark, [(0, 0.0), (1, 1.0)]))
    t.append(_src(spark, [(50, 50.0)]))
    files_before = set(t._read_manifest(t.current_version()).values())
    rid_before = {
        r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()
    }
    id_before = {r.k: r.id for r in t.read().collect()}
    t.merge_clauses(
        _src(spark, [(1, 11.0), (200, 200.0)]),
        ["k"],
        matched=[(None, {"v": "src.v"})],
        not_matched=[(None, "insert_all")],
        deletion_vectors=True,
    )
    rid_after = {
        r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()
    }
    id_after = {r.k: r.id for r in t.read().collect()}
    # matched row kept both identities; untouched rows untouched
    assert rid_after[1] == rid_before[1]
    assert id_after[1] == id_before[1]
    for k in (0, 50):
        assert rid_after[k] == rid_before[k] and id_after[k] == id_before[k]
    # insert minted fresh on both watermarks
    assert rid_after[200] > max(rid_before.values())
    assert id_after[200] == max(id_before.values()) + 1
    # merge-on-read: the pre-merge files carried byte-identical
    assert files_before <= set(
        t._read_manifest(t.current_version()).values()
    )
    vals = {r.k: r.v for r in t.read().collect()}
    assert vals[1] == 11.0 and vals[200] == 200.0
