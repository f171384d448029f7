"""Oracle-checkable end-to-end exercise of the SQL DML surface: land
orders into a ManagedTable, mutate it with Delta-style SQL statements
(DELETE, UPDATE, MERGE upsert — the write-side sibling of
``table_zorder_scan``'s read-side story), and return an aggregate of
the final state that DuckDB reproduces by replaying the same mutations
relationally (CASE/anti-join algebra — DML over parquet views isn't a
single SELECT, but its fixpoint is).

This pins two things cross-engine: the STATEMENT layer (sql_dml.py
routes each spelling to the right merge/delete/update primitive) and
the MERGE-ON-READ semantics underneath (the DELETE and UPDATE run on
the deletion-vector path — old files untouched, vectors + appended
rewrites — so the oracle match proves DV reads reconstruct exactly the
copy-on-write answer). Reference habit being matched: %sql mutation
cells over Delta tables (Seed-Store-Dashboard.py:22-123 is the query
half; Delta's docs spell the mutation half with exactly these
statements).

All arithmetic stays on 2-decimal money (+10, +5) so the cents
encoding is exact in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import inputs, scratch_table
from ..sources.sql_dml import SqlSession
from ..sources.tables import ManagedTable
from ._util import cents, load

# the three mutations (deterministic; they end at version 3)
_DELETE = "DELETE FROM t WHERE o_orderstatus = 'F' AND o_totalprice < 100000"
_UPDATE = (
    "UPDATE t SET o_totalprice = o_totalprice + 10 WHERE o_orderstatus = 'O'"
)
_MERGE = (
    "MERGE INTO t USING batch ON t.o_orderkey = batch.o_orderkey "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)
_KEY_SHIFT = 100_000_000

_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


def _batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE source: every 'P' order repriced (+5) — matched,
    replaces its target row — unioned with the same rows under shifted
    keys — unmatched, inserted."""
    p = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "P")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 5).alias("o_totalprice"),
        )
    )
    shifted = p.select(
        (F.col("o_orderkey") + _KEY_SHIFT).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
    )
    return p.unionByName(shifted)


def _sql_table(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    statements,
    views,
    sources=("orders",),
    **table_kwargs,
) -> ManagedTable:
    """Orders table ``t`` mutated by ``statements`` through a
    SqlSession, built once per corpus as a scratch fixture. ``views``
    maps each temp view the statements read to a function
    ``(spark, sf_dir) -> DataFrame``; ``sources`` names every table they
    load. ``statements`` may also hold callables, run on the table
    between statements."""

    def build(table):
        table.overwrite(load(spark, sf_dir, "orders").select(*_COLS))
        sess = SqlSession(spark)
        sess.register(table)
        for name, view in views.items():
            view(spark, sf_dir).createOrReplaceTempView(name)
        for stmt in statements:
            if callable(stmt):
                stmt(table)
            else:
                sess.sql(stmt)

    return scratch_table(
        spark, kind, inputs(sf_dir, *sources), None, build, name="t",
        **table_kwargs,
    )


def _dml_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """The mutated table: v1 DV delete (no file rewrite), v2 DV update
    plus appended rewrites in one commit, v3 keyed MERGE upsert."""
    return _sql_table(
        spark, sf_dir, "sqldml_tbl", [_DELETE, _UPDATE, _MERGE],
        {"batch": _batch},
    )


def table_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state of the SQL-mutated orders table, aggregated per
    status (count + exact cents sum). DuckDB replays DELETE/UPDATE/
    MERGE as relational algebra over the raw parquet — hash-equality
    proves the statement router AND the DV merge-on-read snapshot
    agree with the copy-on-write fixpoint."""
    t = _dml_table(spark, sf_dir)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


def table_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed over the DV-delete commit of the DML table:
    ``changes(0, 1)`` runs the INCREMENTAL strategy (the manifest
    carried over, only the DV set grew), so this entry pins the
    manifest/DV-diff feed — not the EXCEPT ALL fallback — against the
    relational definition of the same delete."""
    t = _dml_table(spark, sf_dir)
    out = t.changes(0, 1).select("o_orderkey", "_change_type").orderBy(
        "o_orderkey"
    )
    assert t.last_changes_strategy == "incremental"
    return out


def table_cdf_oracle() -> str:
    """The DELETE's row set, tagged — what the v0→v1 feed must equal."""
    return """
        SELECT o_orderkey, 'delete' AS _change_type
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice < 100000
        ORDER BY o_orderkey
    """


def table_sql_dml_oracle() -> str:
    """DuckDB replay of the three SQL mutations as pure relational
    algebra (DELETE → negated filter, UPDATE → CASE projection, MERGE
    upsert → anti-join ∪ source), aggregated identically. Keep in
    lockstep with _DELETE/_UPDATE/_MERGE and :func:`_batch`."""
    from ._util import cents_sql

    return f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
        ),
        after_del AS (
            SELECT * FROM base
            WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        ),
        after_upd AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderstatus = 'O'
                        THEN o_totalprice + 10 ELSE o_totalprice
                   END AS o_totalprice
            FROM after_del
        ),
        batch AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 5 AS o_totalprice
            FROM base WHERE o_orderstatus = 'P'
            UNION ALL
            SELECT o_orderkey + {_KEY_SHIFT}, o_custkey, o_orderstatus,
                   o_totalprice + 5
            FROM base WHERE o_orderstatus = 'P'
        ),
        final AS (
            SELECT * FROM after_upd
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
            UNION ALL
            SELECT * FROM batch
        )
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS total_cents
        FROM final
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


# ------------------------------------------------- replaceWhere entry

# the three selective-overwrite mutations (deterministic; final
# version must be 3). v1 is partition-aligned (metadata-only drops),
# v2 straddles files inside one partition (remainder rewrite), v3 is
# the Hive-style static-partition overwrite through the same path.
_RW_V1 = (
    "INSERT INTO t REPLACE WHERE o_orderstatus = 'P' "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 5 "
    "FROM rw_src WHERE o_orderstatus = 'P' AND o_totalprice >= 50000"
)
_RW_V2 = (
    "INSERT INTO t REPLACE WHERE o_orderstatus = 'O' "
    "AND o_totalprice < 100000 "
    "SELECT o_orderkey, CAST(0 AS BIGINT) AS o_custkey, o_orderstatus, "
    "o_totalprice FROM rw_src "
    "WHERE o_orderstatus = 'O' AND o_totalprice < 100000"
)
_RW_V3 = (
    "INSERT OVERWRITE t PARTITION (o_orderstatus = 'F') "
    "SELECT o_orderkey, o_custkey, o_totalprice + 7 "
    "FROM rw_src WHERE o_orderstatus = 'F'"
)


def _assert_dropped(table: ManagedTable) -> None:
    rc = table.last_replace_classification
    assert rc["dropped"] >= 1 and rc["rewritten"] == 0, rc


def _assert_rewritten(table: ManagedTable) -> None:
    rc = table.last_replace_classification
    assert rc["rewritten"] >= 1, rc


def _rw_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Orders partitioned by status, mutated by the three
    selective-overwrite statements: v1 partition-aligned (a
    metadata-only drop), v2 straddling (a remainder rewrite), v3 a
    static-partition INSERT OVERWRITE."""
    return _sql_table(
        spark, sf_dir, "rw_tbl",
        [_RW_V1, _assert_dropped, _RW_V2, _assert_rewritten, _RW_V3],
        {"rw_src": lambda s, d: load(s, d, "orders").select(*_COLS)},
        partition_columns=["o_orderstatus"],
    )


def table_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state of the replaceWhere-mutated orders table, aggregated
    per status (count + exact cents sum + custkey sum, so the v2
    custkey zeroing is observable). The v1 statement MUST take the
    metadata-only drop path and v2 the remainder-rewrite path (asserted
    in the builder) — hash-equality against DuckDB's relational replay
    proves both region swaps and the static-partition overwrite.

    Scale story: replaceWhere is THE idempotent-backfill write mode at
    100 TB — a date-window re-run retires the window's partitions
    metadata-only and never reads the other 3 years. Reference shape:
    the re-runnable Bronze ingestion window
    (Bronze-Ingestion-Customers.py:51-58) as one atomic swap."""
    t = _rw_table(spark, sf_dir)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
            F.sum("o_custkey").alias("sum_custkey"),
        )
        .orderBy("o_orderstatus")
    )


def table_replace_where_oracle() -> str:
    """DuckDB replay: each region swap is delete-region ∪ replacement.
    Keep in lockstep with _RW_V1/_RW_V2/_RW_V3."""
    from ._util import cents_sql

    return f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
        ),
        after_v1 AS (
            SELECT * FROM base WHERE o_orderstatus <> 'P'
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 5
            FROM base
            WHERE o_orderstatus = 'P' AND o_totalprice >= 50000
        ),
        after_v2 AS (
            SELECT * FROM after_v1
            WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 100000)
            UNION ALL
            SELECT o_orderkey, CAST(0 AS BIGINT), o_orderstatus,
                   o_totalprice
            FROM base
            WHERE o_orderstatus = 'O' AND o_totalprice < 100000
        ),
        final AS (
            SELECT * FROM after_v2 WHERE o_orderstatus <> 'F'
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 7
            FROM base WHERE o_orderstatus = 'F'
        )
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT)
                   AS total_cents,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
        FROM final
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


# ---------------------------------------------- full-grammar MERGE entry

# One statement, all three clause classes, conditional + ordered:
# the snapshot-sync MERGE (Delta's whenNotMatchedBySource surface).
_MS_STMT = (
    "MERGE INTO t USING snap ON t.o_orderkey = snap.o_orderkey "
    "WHEN MATCHED AND t.o_totalprice < 100000 "
    "THEN UPDATE SET o_totalprice = snap.o_totalprice "
    "WHEN MATCHED THEN DELETE "
    "WHEN NOT MATCHED THEN INSERT "
    "(o_orderkey, o_custkey, o_orderstatus, o_totalprice) "
    "VALUES (snap.o_orderkey, snap.o_custkey, 'N', snap.o_totalprice) "
    "WHEN NOT MATCHED BY SOURCE AND o_orderstatus = 'F' "
    "THEN UPDATE SET o_custkey = 0"
)


def _ms_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE source: every 'P' order repriced (+5) — matched —
    unioned with the same rows under shifted keys — unmatched."""
    return _batch(spark, sf_dir)


def _ms_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    return _sql_table(
        spark, sf_dir, "msync_tbl", [_MS_STMT], {"snap": _ms_snap}
    )


def table_merge_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state after ONE full-grammar MERGE — conditional matched
    UPDATE, ordered matched DELETE fallthrough, column-list INSERT
    (with a literal status so inserts are observable per group), and a
    conditional WHEN NOT MATCHED BY SOURCE UPDATE (the snapshot-sync
    clause Delta added for whenNotMatchedBySource). Aggregated per
    status; DuckDB replays the clause algebra relationally.

    Scale story: the general merge is ONE full-outer shuffle join on
    the key — no per-clause passes; clause selection is a single
    first-true CASE evaluated map-side after the join."""
    t = _ms_table(spark, sf_dir)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
            F.sum("o_custkey").alias("sum_custkey"),
        )
        .orderBy("o_orderstatus")
    )


def table_merge_sync_oracle() -> str:
    """Relational replay: matched rows split by the ordered conditions
    (update if old price < 100000, else the DELETE clause fires),
    source-only rows insert with status 'N', target-only rows update
    custkey to 0 when status = 'F'. Keep in lockstep with _MS_STMT."""
    from ._util import cents_sql

    return f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
        ),
        snap AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 5 AS o_totalprice
            FROM base WHERE o_orderstatus = 'P'
            UNION ALL
            SELECT o_orderkey + {_KEY_SHIFT}, o_custkey, o_orderstatus,
                   o_totalprice + 5
            FROM base WHERE o_orderstatus = 'P'
        ),
        final AS (
            SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
                   s.o_totalprice
            FROM base b JOIN snap s ON b.o_orderkey = s.o_orderkey
            WHERE b.o_totalprice < 100000
            UNION ALL
            SELECT s.o_orderkey, s.o_custkey, 'N', s.o_totalprice
            FROM snap s
            WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM base)
            UNION ALL
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'F' THEN 0
                        ELSE o_custkey END,
                   o_orderstatus, o_totalprice
            FROM base
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM snap)
        )
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT)
                   AS total_cents,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
        FROM final
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


# ---------------------------------------------- subquery-DML entry

# DELETE with an IN-subquery over another table, then UPDATE with a
# scalar subquery over the mutated table itself (post-delete state).
# MAX (not AVG) keeps the threshold float-exact across engines.
_SQ_DELETE = (
    "DELETE FROM t WHERE o_custkey IN "
    "(SELECT c_custkey FROM cust_src WHERE c_acctbal < 0)"
)
_SQ_UPDATE = (
    "UPDATE t SET o_totalprice = o_totalprice + 10 "
    "WHERE o_totalprice >= (SELECT MAX(o_totalprice) FROM t) - 50000"
)


def _sq_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """v1 a DV delete via an anti/semi-join plan, v2 an update whose
    scalar subquery sees the post-delete ``t``."""
    return _sql_table(
        spark, sf_dir, "sqdml_tbl", [_SQ_DELETE, _SQ_UPDATE],
        {"cust_src": lambda s, d: load(s, d, "customer").select(
            "c_custkey", "c_acctbal"
        )},
        sources=("orders", "customer"),
    )


def table_dml_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state after subquery-predicated DML: an IN-subquery DELETE
    against the customer table and a scalar-subquery UPDATE whose
    threshold is computed over the table's own post-delete snapshot —
    both committed merge-on-read (DV paths), both resolved by Catalyst
    as joins, never a collected id list. Aggregated per status; DuckDB
    replays the two statements relationally."""
    t = _sq_table(spark, sf_dir)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


def table_dml_subquery_oracle() -> str:
    """Keep in lockstep with _SQ_DELETE/_SQ_UPDATE."""
    from ._util import cents_sql

    return f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
        ),
        after_del AS (
            SELECT * FROM base
            WHERE o_custkey NOT IN (
                SELECT c_custkey FROM customer WHERE c_acctbal < 0
            )
        ),
        final AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_totalprice >=
                            (SELECT MAX(o_totalprice) FROM after_del) - 50000
                        THEN o_totalprice + 10 ELSE o_totalprice
                   END AS o_totalprice
            FROM after_del
        )
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT)
                   AS total_cents
        FROM final
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """
