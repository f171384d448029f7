"""Change-feed-driven incremental materialized-view maintenance — the
DLT/materialized-view pattern over the ManagedTable MVCC: keep a keyed
COUNT/SUM aggregate of a source table current by applying the
attributed row-level change feed (:meth:`~..sources.tables.ManagedTable
.changes_by_version`) instead of re-aggregating the source.

Unlike :mod:`.rollup` (append-only folds with a documented
double-count-on-replay caveat), this refresher is DML-aware AND
exactly-once:

- inserts contribute +1/+value, deletes −1/−value — so DV deletes, DV
  updates (delete+insert pairs) and merge rewrites (the exact-diff
  feed) all maintain the aggregate correctly;
- the applied source version is recorded as a writer-transaction
  watermark ATOMICALLY with the MV commit (``txn=…``, Delta's
  txnAppId/txnVersion), so a crashed-and-replayed refresh
  short-circuits instead of double-applying;
- measures are COUNT and exact integer cents, so the incremental state
  is bit-equal to a from-scratch GROUP BY at every refresh point (the
  driver oracle pins exactly that).

Refresh cost is O(changed rows) + O(MV): the change feed reads DV
deltas and touched dirs only (tables.py's incremental CDF strategy),
the delta aggregate is map-side combinable on the MV keys, and the MV
itself is aggregate-sized. At 100 TB the source never gets rescanned —
the property that makes MVs viable there at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries._util import cents
from ..sources.tables import ManagedTable


def refresh_count_cents_mv(
    src: ManagedTable,
    mv: ManagedTable,
    keys: list[str],
    amount_col: str,
    to_version: int | None = None,
) -> int:
    """Bring ``mv`` (schema: keys + ``n_rows`` + ``total_cents``) up to
    ``src``'s ``to_version`` (default current) by applying the change
    feed since the last applied version. Returns the committed MV
    version (unchanged when already current)."""
    app = f"mv:{mv.name}"
    target = src.current_version() if to_version is None else to_version
    last = mv.last_txn(app)
    if last >= target:
        return mv.current_version()
    ch = src.changes_by_version(last, target)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = ch.groupBy(*keys).agg(
        F.sum(sign).alias("n_delta"),
        F.sum(sign * cents(F.col(amount_col))).alias("c_delta"),
    )
    if mv.current_version() >= 0:
        old = mv.read()
    else:
        old = mv.spark.createDataFrame(
            [],
            delta.select(
                *keys,
                F.col("n_delta").cast("long").alias("n_rows"),
                F.col("c_delta").cast("long").alias("total_cents"),
            ).schema,
        )
    # null-safe fold (round-12 review 5): a NULL group key is ONE
    # group under GROUP BY; the default '=' full-outer join never
    # matched it, appending a new NULL-key row per refresh instead of
    # folding — breaking the 'bit-equal to a from-scratch GROUP BY'
    # contract
    from functools import reduce

    o, d = old.alias("__o"), delta.alias("__d")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__o.{k}").eqNullSafe(F.col(f"__d.{k}")) for k in keys],
    )
    combined = (
        o.join(d, cond, "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"__o.{k}"), F.col(f"__d.{k}")).alias(k)
                for k in keys
            ],
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("n_delta"), F.lit(0))
            ).cast("long").alias("n_rows"),
            (
                F.coalesce(F.col("total_cents"), F.lit(0))
                + F.coalesce(F.col("c_delta"), F.lit(0))
            ).cast("long").alias("total_cents"),
        )
        .where(F.col("n_rows") != 0)
    )
    return mv._stage_and_commit(
        combined, replace_all=True, txn=(app, target), op="MV REFRESH"
    )


# ------------------------------------------------------- oracle entry
def table_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: a per-status (count, cents-sum) MV over
    the SQL-DML table, maintained INCREMENTALLY through its whole
    mutation history — refreshed first to v1 (the DV delete), then to
    current (DV update + merge rewrite applied as change-feed deltas,
    never a re-aggregation). The oracle recomputes the final state
    relationally; matching proves insert/delete algebra over the
    attributed feed reproduces the GROUP BY exactly. Re-running is a
    txn-watermark no-op (exactly-once)."""
    from ..queries.sql_dml_query import _dml_table
    from ..scratch import inputs, scratch_table

    src = _dml_table(spark, sf_dir)

    def build(mv):
        refresh_count_cents_mv(
            src, mv, ["o_orderstatus"], "o_totalprice", to_version=1
        )
        refresh_count_cents_mv(src, mv, ["o_orderstatus"], "o_totalprice")

    mv = scratch_table(
        spark, "mv_status", inputs(sf_dir, "orders"), None, build
    )
    refresh_count_cents_mv(src, mv, ["o_orderstatus"], "o_totalprice")
    return mv.read().orderBy("o_orderstatus")


def table_mv_oracle() -> str:
    """The MV's final state recomputed relationally from scratch — the
    same DELETE/UPDATE/MERGE replay as the ``table_sql_dml`` oracle
    (kept in lockstep with it), aliased to the MV's schema. Matching
    proves incremental feed application ≡ full re-aggregation."""
    from ..queries._util import cents_sql
    from ..queries.sql_dml_query import _KEY_SHIFT

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
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT)
                   AS total_cents
        FROM final
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """
