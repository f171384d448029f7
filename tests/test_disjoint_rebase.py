"""Delta's logical conflict detection for NON-BLIND commits (round
12): concurrent transactions whose read/write regions are provably
disjoint BOTH land — a claim-collision loser rebases onto the winner
instead of raising (parallel partitioned writers, the difference
between N ingest MERGEs running and serializing at 100 TB) — while
overlapping regions keep first-writer-wins. Also the serializability
check over the read snapshot: a commit that landed AFTER a
transaction derived its frame but BEFORE it claimed a version raises
when it overlaps (the frame baked a stale view) and is carried over
when disjoint. Plus the round-12 emptied-partition fix: a scoped
copy-on-write merge that deletes a partition's every row must remove
the partition's manifest entry (the staged write produces no dir for
an empty partition — restaging alone silently resurrected it)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.scratch import race
from databricks_data_warehouse_spark.sources.tables import (
    ConcurrentWriteError,
    ManagedTable,
)


def _mk(spark, tmp_path, name):
    t = ManagedTable(
        spark, name, str(tmp_path / name), partition_columns=["p"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k int, v int, p string",
        )
    )
    return t


def _handle(spark, tmp_path, name):
    return ManagedTable(
        spark, name, str(tmp_path / name), partition_columns=["p"]
    )


def _rows(t):
    return sorted((r.k, r.v, r.p) for r in t.read().collect())


# ------------------------------------------------- emptied partitions


def test_scoped_cow_merge_delete_empties_partition(spark, tmp_path):
    t = _mk(spark, tmp_path, "e1")
    t.merge_delete(
        spark.createDataFrame([(1, "a")], "k int, p string"),
        ["p", "k"],
        deletion_vectors=False,
    )
    assert _rows(t) == [(2, 20, "b"), (3, 30, "c")]
    # the emptied partition's entry left the manifest, not just its rows
    keys = set(t._read_manifest(t.current_version()))
    assert not any('"a"' in k or "a" == k for k in keys)


def test_scoped_merge_clauses_delete_empties_partition(spark, tmp_path):
    t = _mk(spark, tmp_path, "e2")
    t.merge_clauses(
        spark.createDataFrame([(2, "b")], "k int, p string"),
        ["p", "k"],
        matched=[(None, "delete")],
    )
    assert _rows(t) == [(1, 10, "a"), (3, 30, "c")]


# ------------------------------------------------- disjoint rebases


def test_disjoint_scoped_merges_both_land(spark, tmp_path):
    t = _mk(spark, tmp_path, "d1")
    loser = _handle(spark, tmp_path, "d1")
    winner = _handle(spark, tmp_path, "d1")
    with race(
        loser,
        lambda: winner.merge_upsert(
            spark.createDataFrame([(2, 99, "b")], "k int, v int, p string"),
            ["p", "k"],
        ),
    ) as fired:
        v = loser.merge_upsert(
            spark.createDataFrame([(1, 77, "a")], "k int, v int, p string"),
            ["p", "k"],
        )
    assert fired and v == 2
    assert _rows(t) == [(1, 77, "a"), (2, 99, "b"), (3, 30, "c")]


def test_overlapping_scoped_merges_raise(spark, tmp_path):
    t = _mk(spark, tmp_path, "d2")
    loser = _handle(spark, tmp_path, "d2")
    winner = _handle(spark, tmp_path, "d2")
    with race(
        loser,
        lambda: winner.merge_upsert(
            spark.createDataFrame([(1, 99, "a")], "k int, v int, p string"),
            ["p", "k"],
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.merge_upsert(
            spark.createDataFrame([(1, 77, "a")], "k int, v int, p string"),
            ["p", "k"],
        )
    assert fired
    assert _rows(t) == [(1, 99, "a"), (2, 20, "b"), (3, 30, "c")]


def test_chained_disjoint_collisions_rebase_each(spark, tmp_path):
    t = _mk(spark, tmp_path, "d3")
    loser = _handle(spark, tmp_path, "d3")
    w1 = _handle(spark, tmp_path, "d3")
    w2 = _handle(spark, tmp_path, "d3")

    def upsert(w, row):
        return lambda: w.merge_upsert(
            spark.createDataFrame([row], "k int, v int, p string"),
            ["p", "k"],
        )

    with race(
        loser, upsert(w1, (2, 21, "b")), upsert(w2, (3, 31, "c"))
    ) as fired:
        v = loser.merge_upsert(
            spark.createDataFrame([(1, 11, "a")], "k int, v int, p string"),
            ["p", "k"],
        )
    assert len(fired) == 2 and v == 3
    assert _rows(t) == [(1, 11, "a"), (2, 21, "b"), (3, 31, "c")]


def test_disjoint_merge_delete_races_merge(spark, tmp_path):
    """A scoped CoW delete (drop_rels non-empty) rebases too when the
    winner touched another partition."""
    t = _mk(spark, tmp_path, "d4")
    loser = _handle(spark, tmp_path, "d4")
    winner = _handle(spark, tmp_path, "d4")
    with race(
        loser,
        lambda: winner.merge_upsert(
            spark.createDataFrame([(2, 99, "b")], "k int, v int, p string"),
            ["p", "k"],
        ),
    ) as fired:
        loser.merge_delete(
            spark.createDataFrame([(1, "a")], "k int, p string"),
            ["p", "k"],
            deletion_vectors=False,
        )
    assert fired
    assert _rows(t) == [(2, 99, "b"), (3, 30, "c")]


def test_append_only_flip_mid_flight_refuses_rebase(spark, tmp_path):
    """A winner that switched delta.appendOnly on must not be rebased
    over by a racing UPDATE-shaped merge."""
    t = _mk(spark, tmp_path, "d5")
    loser = _handle(spark, tmp_path, "d5")
    winner = _handle(spark, tmp_path, "d5")
    with race(
        loser,
        lambda: winner.set_properties({"delta.appendOnly": "true"}),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.merge_update(
            spark.createDataFrame([(1, 99, "a")], "k int, v int, p string"),
            ["p", "k"],
        )
    assert fired


# --------------------------------------- read-snapshot serializability


def test_stale_read_overlapping_intermediate_raises(spark, tmp_path):
    """A commit landing between a merge's read snapshot and its claim
    — NO claim collision — must still conflict when it touched the
    merge's region: the staged frame baked the stale view."""
    t = _mk(spark, tmp_path, "s1")
    loser = _handle(spark, tmp_path, "s1")
    winner = _handle(spark, tmp_path, "s1")
    # pin the read at v0, let the winner land v1, then commit the
    # stale frame through the declared-read-region path
    rels, keys = loser._scope_rels_keys(0, [{"p": "a"}])
    staged = loser.read(0).filter(F.col("p") == "a").withColumn(
        "v", F.lit(77)
    )
    winner.merge_upsert(
        spark.createDataFrame([(1, 99, "a")], "k int, v int, p string"),
        ["p", "k"],
    )
    with pytest.raises(ConcurrentWriteError, match="read snapshot"):
        loser._stage_and_commit(
            staged,
            replace_all=False,
            op="MERGE UPSERT",
            drop_rels=rels,
            read_version=0,
            read_keys=keys,
        )
    assert _rows(t) == [(1, 99, "a"), (2, 20, "b"), (3, 30, "c")]


def test_stale_read_disjoint_intermediate_carries(spark, tmp_path):
    """The same stale-read window with a DISJOINT intermediate commit
    is fine: the winner's partition carries over untouched."""
    t = _mk(spark, tmp_path, "s2")
    loser = _handle(spark, tmp_path, "s2")
    winner = _handle(spark, tmp_path, "s2")
    rels, keys = loser._scope_rels_keys(0, [{"p": "a"}])
    staged = loser.read(0).filter(F.col("p") == "a").withColumn(
        "v", F.lit(77)
    )
    winner.merge_upsert(
        spark.createDataFrame([(2, 99, "b")], "k int, v int, p string"),
        ["p", "k"],
    )
    loser._stage_and_commit(
        staged,
        replace_all=False,
        op="MERGE UPSERT",
        drop_rels=rels,
        read_version=0,
        read_keys=keys,
    )
    assert _rows(t) == [(1, 77, "a"), (2, 99, "b"), (3, 30, "c")]


# ------------------------------------------------- replace_where races


def test_replace_where_races_in_region_append(spark, tmp_path):
    """An append INTO the replaced region racing a replaceWhere must
    conflict — letting it slip in would violate the 'region R equals
    D afterwards' contract."""
    t = _mk(spark, tmp_path, "r1")
    loser = _handle(spark, tmp_path, "r1")
    winner = _handle(spark, tmp_path, "r1")
    with race(
        loser,
        lambda: winner.append(
            spark.createDataFrame([(9, 90, "a")], "k int, v int, p string")
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.replace_where(
            spark.createDataFrame([(7, 70, "a")], "k int, v int, p string"),
            [("p", "=", "a")],
        )
    assert fired
    assert (9, 90, "a") in _rows(t)


def test_replace_where_races_out_of_region_append(spark, tmp_path):
    """The same race OUTSIDE the region rebases: both commits land."""
    t = _mk(spark, tmp_path, "r2")
    loser = _handle(spark, tmp_path, "r2")
    winner = _handle(spark, tmp_path, "r2")
    with race(
        loser,
        lambda: winner.append(
            spark.createDataFrame([(9, 90, "b")], "k int, v int, p string")
        ),
    ) as fired:
        loser.replace_where(
            spark.createDataFrame([(7, 70, "a")], "k int, v int, p string"),
            [("p", "=", "a")],
        )
    assert fired
    assert _rows(t) == [
        (2, 20, "b"),
        (3, 30, "c"),
        (7, 70, "a"),
        (9, 90, "b"),
    ]


# ------------------------------------------- maintenance vs ingest races


def test_optimize_races_disjoint_merge(spark, tmp_path):
    """The 100 TB maintenance shape: OPTIMIZE bin-packing fragmented
    partition 'a' rebases over a concurrent MERGE into partition 'b' —
    both land, nothing serializes."""
    t = _mk(spark, tmp_path, "m1")
    # fragment partition a (small appends)
    t.append(spark.createDataFrame([(4, 40, "a")], "k int, v int, p string"))
    t.append(spark.createDataFrame([(5, 50, "a")], "k int, v int, p string"))
    loser = _handle(spark, tmp_path, "m1")
    winner = _handle(spark, tmp_path, "m1")
    with race(
        loser,
        lambda: winner.merge_upsert(
            spark.createDataFrame([(2, 99, "b")], "k int, v int, p string"),
            ["p", "k"],
        ),
    ) as fired:
        v = loser.optimize(min_small_files=2, where=[("p", "=", "a")])
    assert fired and v == loser.current_version()
    assert _rows(t) == [
        (1, 10, "a"),
        (2, 99, "b"),
        (3, 30, "c"),
        (4, 40, "a"),
        (5, 50, "a"),
    ]


def test_optimize_conflicts_with_append_into_same_partition(spark, tmp_path):
    """An append INTO a partition being bin-packed must conflict:
    base-key replacement would otherwise retire the appended entry
    without its rows being in the rewrite."""
    t = _mk(spark, tmp_path, "m2")
    t.append(spark.createDataFrame([(4, 40, "a")], "k int, v int, p string"))
    loser = _handle(spark, tmp_path, "m2")
    winner = _handle(spark, tmp_path, "m2")
    with race(
        loser,
        lambda: winner.append(
            spark.createDataFrame([(9, 90, "a")], "k int, v int, p string")
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.optimize(min_small_files=2, where=[("p", "=", "a")])
    assert fired
    assert (9, 90, "a") in _rows(t)  # the append won; nothing lost


# ------------------------------------------- true-parallel writer stress


def test_parallel_disjoint_merges_threads(spark, tmp_path):
    """REAL concurrency (threads, not interposition): six writers each
    MERGE into their own partition simultaneously. Every writer must
    land — claim collisions resolve by rebase, zero aborted work — and
    the final table equals all six merges applied."""
    from concurrent.futures import ThreadPoolExecutor

    name = "par1"
    t = ManagedTable(
        spark, name, str(tmp_path / name), partition_columns=["p"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(i, i * 10, str(i % 6)) for i in range(12)],
            "k int, v int, p string",
        )
    )

    def writer(p):
        h = ManagedTable(
            spark, name, str(tmp_path / name), partition_columns=["p"]
        )
        src = spark.createDataFrame(
            [(100 + p, 1000 + p, str(p))], "k int, v int, p string"
        )
        return h.merge_upsert(src, ["p", "k"])

    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = list(ex.map(writer, range(6)))
    # all six landed at distinct versions (1..6 in claim order)
    assert sorted(versions) == [1, 2, 3, 4, 5, 6]
    rows = sorted((r.k, r.v, r.p) for r in t.read().collect())
    want = sorted(
        [(i, i * 10, str(i % 6)) for i in range(12)]
        + [(100 + p, 1000 + p, str(p)) for p in range(6)]
    )
    assert rows == want


def test_parallel_mixed_maintenance_and_ingest_threads(spark, tmp_path):
    """OPTIMIZE on one partition racing merges into two others, all on
    real threads: every commit lands (any claim-collision loser
    rebases) and no row is lost, doubled, or stale."""
    from concurrent.futures import ThreadPoolExecutor

    name = "par2"
    t = ManagedTable(
        spark, name, str(tmp_path / name), partition_columns=["p"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(i, i, str(i % 3)) for i in range(9)], "k int, v int, p string"
        )
    )
    # fragment partition 0 so OPTIMIZE has work
    t.append(spark.createDataFrame([(90, 90, "0")], "k int, v int, p string"))
    t.append(spark.createDataFrame([(93, 93, "0")], "k int, v int, p string"))

    def opt():
        h = ManagedTable(
            spark, name, str(tmp_path / name), partition_columns=["p"]
        )
        return ("opt", h.optimize(min_small_files=2, where=[("p", "=", "0")]))

    def merge(p):
        h = ManagedTable(
            spark, name, str(tmp_path / name), partition_columns=["p"]
        )
        src = spark.createDataFrame(
            [(200 + p, 2000 + p, str(p))], "k int, v int, p string"
        )
        return ("merge", h.merge_upsert(src, ["p", "k"]))

    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(opt), ex.submit(merge, 1), ex.submit(merge, 2)]
        results = [f.result() for f in futs]
    assert sorted(v for _, v in results) == [3, 4, 5]
    rows = sorted((r.k, r.v, r.p) for r in t.read().collect())
    want = sorted(
        [(i, i, str(i % 3)) for i in range(9)]
        + [(90, 90, "0"), (93, 93, "0")]
        + [(201, 2001, "1"), (202, 2002, "2")]
    )
    assert rows == want


def test_cluster_races_disjoint_merge(spark, tmp_path):
    """The liquid-clustering increment rebases over concurrent ingest
    into another partition — same maintenance shape as OPTIMIZE — and
    the staged dirs stay MARKED clustered through the rebase (the next
    cluster() run is a no-op for them)."""
    name = "cl1"
    t = ManagedTable(
        spark, name, str(tmp_path / name), partition_columns=["p"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k int, v int, p string"
        )
    )
    t.set_cluster_by(["k"])
    t.cluster()  # whole table laid out once
    # new ingest into 'a' only: the next increment's region is 'a'
    t.append(spark.createDataFrame([(4, 40, "a")], "k int, v int, p string"))
    loser = ManagedTable(
        spark, name, str(tmp_path / name), partition_columns=["p"]
    )
    winner = ManagedTable(
        spark, name, str(tmp_path / name), partition_columns=["p"]
    )
    with race(
        loser,
        lambda: winner.merge_upsert(
            spark.createDataFrame([(2, 99, "b")], "k int, v int, p string"),
            ["p", "k"],
        ),
    ) as fired:
        v = loser.cluster()
    assert fired
    assert _rows(t) == [(1, 10, "a"), (2, 99, "b"), (4, 40, "a")]
    # the rebased commit kept its clustered markers: re-clustering the
    # SAME handle finds only the winner's merge output unclustered
    man = t._read_manifest(t.current_version())
    clustered = set(t._read_clustered(t.current_version()))
    assert clustered  # the staged dirs are marked
    assert any(rel in clustered for rel in man.values())


def test_scope_handles_special_char_and_null_partitions(spark, tmp_path):
    """The drop-scope matching survives hive dir-name escaping: scoped
    CoW deletes empty partitions whose values carry spaces, '=', '/',
    while a NULL-keyed merge matches NOTHING (standard SQL equality —
    Delta's MERGE ON is the same) and the NULL partition is restaged
    intact, never dropped."""
    t = ManagedTable(
        spark, "spc", str(tmp_path / "spc"), partition_columns=["p"]
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "a b"), (2, "x=y"), (3, "s/t"), (4, None), (5, "plain")],
            "k int, p string",
        )
    )
    t.merge_delete(
        spark.createDataFrame([(1, "a b"), (2, "x=y")], "k int, p string"),
        ["p", "k"],
        deletion_vectors=False,
    )
    got = sorted(((r.k, r.p) for r in t.read().collect()),
                 key=lambda x: x[0])
    assert got == [(3, "s/t"), (4, None), (5, "plain")]
    # NULL-keyed delete: matches nothing, loses nothing
    t.merge_delete(
        spark.createDataFrame([(4, None)], "k int, p string"),
        ["p", "k"],
        deletion_vectors=False,
    )
    got = sorted(((r.k, r.p) for r in t.read().collect()),
                 key=lambda x: x[0])
    assert got == [(3, "s/t"), (4, None), (5, "plain")]


# --------------------------------------------- randomized convergence


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lp=st.integers(0, 2),
    w1p=st.integers(0, 2),
    w2p=st.integers(0, 2),
    loser_deletes=st.booleans(),
)
@pytest.mark.slow
def test_disjoint_rebase_converges_to_serial(
    spark, tmp_path_factory, lp, w1p, w2p, loser_deletes
):
    """Property: under ANY overlap pattern of two interposed winners
    and one loser (random partitions, upsert or delete), the outcome
    is exactly the serial application in commit order when the loser's
    region is disjoint from both winners', and a clean
    ConcurrentWriteError leaving precisely the winners' state when it
    overlaps either. No interleaving can lose, duplicate, or
    resurrect a row."""
    tmp = tmp_path_factory.mktemp("djprop")
    name = "t"
    t = ManagedTable(
        spark, name, str(tmp / name), partition_columns=["p"]
    )
    base = [(p, p * 10, str(p)) for p in range(3)]
    t.overwrite(spark.createDataFrame(base, "k int, v int, p string"))
    w1h = ManagedTable(spark, name, str(tmp / name), partition_columns=["p"])
    w2h = ManagedTable(spark, name, str(tmp / name), partition_columns=["p"])
    loser = ManagedTable(spark, name, str(tmp / name), partition_columns=["p"])

    def upsert(w, row):
        return lambda: w.merge_upsert(
            spark.createDataFrame([row], "k int, v int, p string"),
            ["p", "k"],
        )

    def apply_winners(state):
        # only winners that actually fired: an overlap with w1 raises
        # at the FIRST collision, so w2 never runs
        state = {r for r in state if r[0] != 100 + w1p} | {
            (100 + w1p, 1000, str(w1p))
        }
        if len(fired) == 2:
            state = {r for r in state if r[0] != 100 + w2p} | {
                (100 + w2p, 2000, str(w2p))
            }
        return state

    def apply_loser(state):
        if loser_deletes:
            return {r for r in state if not (r[0] == lp and r[2] == str(lp))}
        return {r for r in state if r[0] != 200 + lp} | {
            (200 + lp, 3000, str(lp))
        }

    disjoint = lp not in (w1p, w2p)
    with race(
        loser,
        upsert(w1h, (100 + w1p, 1000, str(w1p))),
        upsert(w2h, (100 + w2p, 2000, str(w2p))),
    ) as fired:
        try:
            if loser_deletes:
                loser.merge_delete(
                    spark.createDataFrame([(lp, str(lp))], "k int, p string"),
                    ["p", "k"],
                    deletion_vectors=False,
                )
            else:
                loser.merge_upsert(
                    spark.createDataFrame(
                        [(200 + lp, 3000, str(lp))], "k int, v int, p string"
                    ),
                    ["p", "k"],
                )
            landed = True
        except ConcurrentWriteError:
            landed = False
    assert fired  # the race genuinely happened
    got = {(r.k, r.v, r.p) for r in t.read().collect()}
    if disjoint:
        assert landed and len(fired) == 2, (lp, w1p, w2p, loser_deletes)
        assert got == apply_loser(apply_winners(set(base)))
    else:
        assert not landed
        assert got == apply_winners(set(base))


def test_merge_clauses_disjoint_race(spark, tmp_path):
    """The full-grammar MERGE (clauses) rides the same region
    machinery: disjoint partitions rebase."""
    t = _mk(spark, tmp_path, "mc1")
    loser = _handle(spark, tmp_path, "mc1")
    winner = _handle(spark, tmp_path, "mc1")
    with race(
        loser,
        lambda: winner.merge_upsert(
            spark.createDataFrame([(2, 99, "b")], "k int, v int, p string"),
            ["p", "k"],
        ),
    ) as fired:
        loser.merge_clauses(
            spark.createDataFrame([(1, 77, "a")], "k int, v int, p string"),
            ["p", "k"],
            matched=[(None, {"v": "src.v"})],
            not_matched=[(None, "insert_all")],
        )
    assert fired
    assert _rows(t) == [(1, 77, "a"), (2, 99, "b"), (3, 30, "c")]


def test_dv_delete_winner_attribution(spark, tmp_path):
    """A winner whose commit is a DELETION-VECTOR delete (no entry
    changes — only the dv map moved) must still be attributed to its
    partition: a racing merge into the SAME partition raises, one
    into ANOTHER partition rebases."""
    t = _mk(spark, tmp_path, "dv1")
    # same-partition race: DV delete in 'a' vs merge into 'a'
    loser = _handle(spark, tmp_path, "dv1")
    winner = _handle(spark, tmp_path, "dv1")
    with race(
        loser,
        lambda: winner.delete_where(
            (F.col("p") == "a") & (F.col("k") == 1)  # DV path (default)
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.merge_upsert(
            spark.createDataFrame([(9, 90, "a")], "k int, v int, p string"),
            ["p", "k"],
        )
    assert fired
    assert _rows(t) == [(2, 20, "b"), (3, 30, "c")]  # the DV delete won
    # disjoint: DV delete in 'b' vs merge into 'c' — both land
    loser2 = _handle(spark, tmp_path, "dv1")
    winner2 = _handle(spark, tmp_path, "dv1")
    with race(
        loser2,
        lambda: winner2.delete_where(
            (F.col("p") == "b") & (F.col("k") == 2)
        ),
    ) as fired:
        loser2.merge_upsert(
            spark.createDataFrame([(3, 33, "c")], "k int, v int, p string"),
            ["p", "k"],
        )
    assert fired
    assert _rows(t) == [(3, 33, "c")]


def test_empty_region_replace_where_races_in_region_append(spark, tmp_path):
    """A replace_where whose region classifies EMPTY (no existing entry
    matches the predicate) still declared "no rows match P" — a racing
    append INTO P must conflict, not be rebased over as if the commit
    were a blind append (it stages entries and drops nothing, but it
    is NOT blind: it has a read region)."""
    t = _mk(spark, tmp_path, "r_empty")
    loser = _handle(spark, tmp_path, "r_empty")
    winner = _handle(spark, tmp_path, "r_empty")
    with race(
        loser,
        lambda: winner.append(
            spark.createDataFrame([(9, 90, "d")], "k int, v int, p string")
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.replace_where(
            spark.createDataFrame([(7, 70, "d")], "k int, v int, p string"),
            [("p", "=", "d")],
        )
    assert fired
    # the winner's append survives; the loser's replace did not land
    assert (9, 90, "d") in _rows(t)
    assert (7, 70, "d") not in _rows(t)


def test_dv_update_races_optimize_raises_not_duplicates(spark, tmp_path):
    """Merge-on-read UPDATE computes its doomed positions against the
    snapshot it scanned; an OPTIMIZE landing before the DV claim
    retires those files — writing the vector anyway would orphan the
    positions (the stale copy stays visible next to the appended
    update: silent duplicates). The DV path must detect the retired
    files and raise, like the CoW paths detect their stale reads."""
    t = _mk(spark, tmp_path, "dvrace")
    # split partition a across two files so optimize has work
    t.append(spark.createDataFrame([(4, 40, "a")], "k int, v int, p string"))
    loser = _handle(spark, tmp_path, "dvrace")
    winner = _handle(spark, tmp_path, "dvrace")

    orig = loser._delete_rows_dv
    state = {"raced": False}

    def interposed(*a, **k):
        if not state["raced"]:
            state["raced"] = True
            winner.optimize(min_small_files=1)  # retires scanned files
        return orig(*a, **k)

    loser._delete_rows_dv = interposed
    with pytest.raises(ConcurrentWriteError):
        loser.update_where({"v": "v + 100"}, F.col("k") == 1)
    assert state["raced"]
    rows = _rows(t)
    assert rows.count((1, 10, "a")) == 1      # old row intact, once
    assert (1, 110, "a") not in rows          # update did not half-land


def test_scoped_delete_conflicts_with_insert_into_named_empty_partition(
    spark, tmp_path
):
    """A scoped merge_delete's read region must include partitions its
    SOURCE names even when no entry exists there at the read snapshot:
    a racing append into such a partition overlaps the delete's read
    predicate (the later-committed delete named exactly those keys),
    so it must raise — judging it disjoint would leave rows alive that
    the committed delete explicitly targeted."""
    t = _mk(spark, tmp_path, "scope_empty")
    loser = _handle(spark, tmp_path, "scope_empty")
    winner = _handle(spark, tmp_path, "scope_empty")
    with race(
        loser,
        lambda: winner.append(
            spark.createDataFrame([(9, 90, "z")], "k int, v int, p string")
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.merge_delete(
            spark.createDataFrame(
                [(1, "a"), (9, "z")], "k int, p string"
            ),
            ["p", "k"],
            deletion_vectors=False,
        )
    assert fired
    # first writer won; the loser's delete did not half-land
    rows = _rows(t)
    assert (9, 90, "z") in rows and (1, 10, "a") in rows


def test_scoped_delete_empties_decimal_partition(spark, tmp_path):
    """Decimal partition values must participate in scope claiming: an
    unparseable partition value used to be 'never claimed', so a
    scoped CoW delete that emptied the partition silently resurrected
    its rows (no staged dir for an empty partition + entry carried
    over == the committed delete deleted nothing)."""
    from decimal import Decimal

    t = ManagedTable(
        spark, "decpart", str(tmp_path / "decpart"),
        partition_columns=["p"],
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, Decimal("1.5")), (2, Decimal("2.5"))],
            "k int, p decimal(4,1)",
        )
    )
    t.merge_delete(
        spark.createDataFrame([(1, Decimal("1.5"))], "k int, p decimal(4,1)"),
        ["p", "k"],
        deletion_vectors=False,
    )
    left = sorted((r.k, str(r.p)) for r in t.read().collect())
    assert left == [(2, "2.5")]


def test_rebase_over_vacuumed_winner_raises_concurrent_not_filenotfound(
    spark, tmp_path
):
    """When a racing winner's retention vacuum deleted the manifest the
    conflict check needs to diff, disjointness cannot be PROVED — the
    loser must get the ordinary ConcurrentWriteError (which callers
    catch and retry), not a FileNotFoundError that skips the staged-
    file discard."""
    t = _mk(spark, tmp_path, "vacrace")
    loser = _handle(spark, tmp_path, "vacrace")
    winner = _handle(spark, tmp_path, "vacrace")
    winner.retain_versions = 1  # post-commit vacuum deletes old manifests
    with race(
        loser,
        lambda: winner.merge_upsert(
            spark.createDataFrame([(5, 50, "b")], "k int, v int, p string"),
            ["p", "k"],
        ),
    ) as fired, pytest.raises(ConcurrentWriteError):
        loser.merge_upsert(
            spark.createDataFrame([(7, 70, "a")], "k int, v int, p string"),
            ["p", "k"],
        )
    assert fired
    assert (5, 50, "b") in _rows(t)
