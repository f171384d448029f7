"""Oracle-checkable end-to-end exercise of the ManagedTable data-
skipping path: land a fact table, OPTIMIZE ZORDER it, answer a
two-column range probe through ``scan`` — and prove the pruned read is
row-identical to the plain SQL filter the DuckDB oracle runs.

This is the read-side half of the Delta parity story
(Bronze-Ingestion-Customers.py:40-58 writes Delta; Delta's reader then
data-skips on the transaction-log stats). At 100 TB the same probe
touches the handful of files whose Z-range intersects the predicate
box instead of the whole table; here the pytest side
(tests/test_skipping.py) asserts the file-count drop while this entry
pins the value-level correctness cross-engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import inputs, race, scratch_dir, scratch_table
from ..sources.tables import ManagedTable
from ._util import load

# fixed probe box — valid (and selective) at every sf
_CUST_LO, _CUST_HI = 100, 220
_PRICE_LO, _PRICE_HI = 50_000.0, 200_000.0


def _orders_table(spark, sf_dir, kind, build, **table_kwargs):
    """A scratch table built from ``orders`` alone (see ``scratch``)."""
    return scratch_table(
        spark, kind, inputs(sf_dir, "orders"), None, build, **table_kwargs
    )


def _k_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as (k, price), the shape most race fixtures mutate."""
    return load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )


def _handle(t: ManagedTable) -> ManagedTable:
    """A second writer's handle on the same table."""
    return ManagedTable(
        t.spark, t.name, t.location, partition_columns=t.partition_columns
    )


def table_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders landed into a ManagedTable, Z-ordered on (o_custkey,
    o_totalprice), probed with a 2-D range via the stats-pruned
    ``scan``. Returns the matching rows — hash-equal to ``SELECT …
    WHERE`` on the raw parquet, because skipping may only remove I/O.

    The table build (write + OPTIMIZE ZORDER) is a scratch fixture,
    mirroring how a real deployment optimizes once and probes many
    times; a re-run therefore measures the probe, not the landing.
    """
    table = _zorder_table(spark, sf_dir)
    probe = [
        ("o_custkey", "between", _CUST_LO, _CUST_HI),
        ("o_totalprice", "between", _PRICE_LO, _PRICE_HI),
    ]
    return table.scan(probe).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _zorder_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """The Z-ordered orders table (built once per corpus)."""

    def build(t):
        t.overwrite(load(spark, sf_dir, "orders"))
        t.compact(zorder_by=["o_custkey", "o_totalprice"], target_files=16)

    return _orders_table(spark, sf_dir, "zorder_tbl", build)


def table_zorder_scan_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 2-D probe through the AUTOMATIC skipping path: the
    Z-ordered table registered as a SQL view (``create_view``), probed
    with a plain ``WHERE`` — no ``scan``, no filter triples. Catalyst
    pushes the WHERE conjuncts into the pushdown reader
    (sources/datasource.py), which prunes manifest files with the same
    footer-stats logic ``scan`` uses. This is the Delta-parity
    ergonomic: the reference's users filter partitioned Delta tables
    with bare SQL and get pruning implicitly
    (Seed-Store-Dashboard.py:64-67). The pytest side
    (tests/test_pushdown_read.py) asserts files_kept < files_total via
    ``last_pushdown_report``; this entry pins cross-engine value
    equality."""
    table = _zorder_table(spark, sf_dir)
    view = f"{table.name}_v"
    table.create_view(view)
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM {view}
        WHERE o_custkey BETWEEN {_CUST_LO} AND {_CUST_HI}
          AND o_totalprice BETWEEN {_PRICE_LO} AND {_PRICE_HI}
        """
    )


def table_zorder_scan_sql_oracle() -> str:
    return table_zorder_scan_oracle()


def table_zorder_scan_oracle() -> str:
    return f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_custkey BETWEEN {_CUST_LO} AND {_CUST_HI}
          AND o_totalprice BETWEEN {_PRICE_LO} AND {_PRICE_HI}
    """


# fixed point-lookup probe — keys present at every bench/driver sf
_BLOOM_KEYS = (1, 5, 33, 1000, 4000)


def _bloom_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Orders table with a bloom index on ``o_orderkey`` and the
    rows deliberately SCATTERED (hash repartition, no sort): every
    file's min/max spans ~the whole key range, the layout where bounds-
    based skipping is useless and Databricks' BLOOMFILTER INDEX is the
    only thing standing between a point lookup and a full scan."""

    def build(t):
        t.set_bloom_index("o_orderkey", fpp=0.01, ndv=16_384)
        t.overwrite(load(spark, sf_dir, "orders").repartition(16))

    return _orders_table(spark, sf_dir, "bloom_tbl", build)


def table_bloom_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup (``o_orderkey IN …``) through the bloom-pruned
    ``scan`` on a scattered layout. tests/test_bloom_index.py asserts
    the file-count drop (``files_bloom_pruned``); this entry pins the
    value-level cross-engine equality: pruning may only remove I/O,
    never rows, at any false-positive rate."""
    table = _bloom_table(spark, sf_dir)
    return table.scan([("o_orderkey", "in", list(_BLOOM_KEYS))]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def table_bloom_scan_oracle() -> str:
    keys = ", ".join(str(k) for k in _BLOOM_KEYS)
    return f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_orderkey IN ({keys})
    """


# fixed event-time probe — the canonical time-series slice
_TS_LO = "2024-01-10 00:00:00"
_TS_HI = "2024-01-12 23:59:59"


def _generated_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Events table partitioned by the GENERATED column
    ``day = CAST(ts AS DATE)`` (Delta generated columns): ingest never
    supplies ``day`` — the write computes it — and any filter on ``ts``
    derives a partition filter on ``day`` automatically."""
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("day", DateType()),
        ]
    )

    def build(t):
        t.set_generated_column("day", "CAST(ts AS DATE)")
        t.overwrite(
            load(spark, sf_dir, "events").select(
                "event_id", "ts", "user_id", "event_type", "value"
            )
        )

    return scratch_table(
        spark, "gen_tbl", inputs(sf_dir, "events"), None, build,
        schema=schema, partition_columns=["day"],
    )


def table_generated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 3-day event-time slice through ``scan`` on the generated-
    day-partitioned events table: the ``ts BETWEEN`` filter alone
    derives ``day BETWEEN`` and prunes to ~3/30 partitions
    (tests/test_generated_columns.py asserts the file-count drop even
    with source stats stripped); the oracle pins value equality against
    the raw parquet — derivation may only remove I/O, never rows."""
    import datetime as _dt

    table = _generated_table(spark, sf_dir)
    lo = _dt.datetime.fromisoformat(_TS_LO)
    hi = _dt.datetime.fromisoformat(_TS_HI)
    return table.scan([("ts", "between", lo, hi)]).select(
        "event_id", "user_id", "event_type", "value"
    )


def table_generated_scan_oracle() -> str:
    return f"""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE ts BETWEEN TIMESTAMP '{_TS_LO}' AND TIMESTAMP '{_TS_HI}'
    """


def _copy_landing(sf_dir: str) -> str:
    """The COPY INTO landing zone: the corpus' own orders.parquet
    copied as immutable files. Published before the table is built,
    because the table's load ledger names the landing files by path."""
    import shutil

    [src] = inputs(os.path.abspath(sf_dir), "orders")

    def build(d):
        if os.path.isdir(src):
            for i, fn in enumerate(sorted(os.listdir(src))):
                if fn.endswith(".parquet"):
                    shutil.copyfile(
                        os.path.join(src, fn),
                        os.path.join(d, f"orders-batch-{i}.parquet"),
                    )
        else:
            shutil.copyfile(src, os.path.join(d, "orders-batch.parquet"))

    return scratch_dir("copy_landing", [src], None, build)


def table_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO exercised end-to-end: the landing zone is loaded TWICE
    — the second run must be a file-ledger no-op, so the table holds
    the source exactly once (tests/test_copy_into.py pins the races and
    FORCE; this entry pins idempotent content cross-engine)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    landing = _copy_landing(sf_dir)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )

    def build(t):
        t.create_if_not_exists()
        t.copy_into(landing)  # the one load

    table = scratch_table(
        spark, "copy_tbl", [landing], None, build, schema=schema
    )
    table.copy_into(landing)  # ALWAYS a no-op (the contract)
    return table.read().select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def table_copy_into_oracle() -> str:
    return """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
    """


def _cluster_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """CLUSTER BY table built the liquid way: half the orders land
    and get clustered, the second half appends, a second incremental
    OPTIMIZE lays out ONLY the new slice (asserted: the first round's
    files must survive inode-untouched). Built once, like a real
    deployment's layout; the probe is what a re-run measures."""
    import glob as _glob

    def files(t, v):
        return {
            os.path.relpath(p, t.location): os.stat(p).st_ino
            for rel in set(t._read_manifest(v).values())
            for p in _glob.glob(
                os.path.join(t.location, rel) + "/**/*.parquet",
                recursive=True,
            )
        }

    def build(t):
        orders = load(spark, sf_dir, "orders")
        t.overwrite(orders.where(F.col("o_orderkey") % 2 == 0))   # v0
        t.cluster(target_files=8)                                  # v1
        first = files(t, 1)
        t.append(orders.where(F.col("o_orderkey") % 2 == 1))      # v2
        t.cluster(target_files=8)                                  # v3
        live = files(t, t.current_version())
        # the incremental guarantee, asserted in the builder
        assert set(first) <= set(live), "clustered files were dropped"
        for rp, ino in first.items():
            assert live[rp] == ino, (
                f"clustered file {rp} was rewritten by the "
                "incremental OPTIMIZE"
            )
        # one final no-op proves convergence (commit-free)
        assert t.cluster() == t.current_version()

    return _orders_table(
        spark, sf_dir, "cluster_tbl", build,
        cluster_by=["o_custkey", "o_totalprice"],
    )


def table_cluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D probe over the INCREMENTALLY clustered table — same
    predicate as ``table_zorder_scan``, but the layout came from two
    liquid-style OPTIMIZE runs that never rewrote already-clustered
    files (builder-asserted, inode-pinned). Hash-equality proves
    incremental clustering loses no rows and skipping stays sound."""
    table = _cluster_table(spark, sf_dir)
    probe = [
        ("o_custkey", "between", _CUST_LO, _CUST_HI),
        ("o_totalprice", "between", _PRICE_LO, _PRICE_HI),
    ]
    return table.scan(probe).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def table_cluster_scan_oracle() -> str:
    return table_zorder_scan_oracle()


def _converted_table(spark: SparkSession, sf_dir: str) -> "ManagedTable":
    """Orders landed once as a PLAIN parquet directory (range layout),
    then adopted via CONVERT — zero-copy manifest over the raw files,
    footer stats harvested at adoption. The manifest names the raw
    files by absolute path, so the raw directory is published first
    and converted at its published path."""
    from ..sources.tables import convert_to_managed

    raw = scratch_dir(
        "convert_raw", inputs(sf_dir, "orders"), None,
        lambda d: load(spark, sf_dir, "orders")
        .repartitionByRange(8, "o_orderkey")
        .write.mode("overwrite").parquet(d),
    )
    return scratch_table(
        spark, "convert_tbl", [raw], None,
        lambda t: convert_to_managed(spark, t.name, t.location, raw),
    )


def table_convert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned range probe over a CONVERTed table — the adopted
    files were never rewritten (manifest v0 references them by absolute
    path), yet skipping works because CONVERT harvested the footers.
    Hash-equality vs bare SQL proves adoption loses nothing."""
    t = _converted_table(spark, sf_dir)
    assert t.history()[-1]["operation"].startswith("CONVERT")
    return t.scan([("o_orderkey", "between", 1000, 50000)]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def table_convert_scan_oracle() -> str:
    return """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 50000
    """


def _cdf_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """CDF-enabled table with one content-changing rewrite:
    v0 lands all orders (k, price), v1 sets
    ``delta.enableChangeDataFeed``, v2 OVERWRITEs with every 5th key
    dropped and every 3rd repriced (+5). The v2 commit STAGES its
    exact row diff (write-side CDC — Delta's change files): the feed
    entry below must read only those staged files, never re-derive."""

    def build(t):
        base = _k_price(spark, sf_dir)
        t.overwrite(base)                                           # v0
        t.set_properties({"delta.enableChangeDataFeed": "true"})    # v1
        new = base.where(F.col("k") % 5 != 0).select(
            "k",
            F.when(F.col("k") % 3 == 0, F.col("price") + 5)
            .otherwise(F.col("price"))
            .alias("price"),
        )
        t.overwrite(new)                                            # v2

    return _orders_table(spark, sf_dir, "cdf_tbl", build)


def table_cdf_staged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side CDC read: the rewrite pair's change feed served from
    the commit's OWN staged change files (each changed byte was read
    once, at write time — the streaming reader's bucketed re-read
    fallback never engages). The ``strategy`` literal pins the staged
    path INSIDE the oracle hash: a silent fallback to the read-side
    diff would flip it to 'diff' and hash-mismatch."""
    from ..queries._util import cents

    t = _cdf_table(spark, sf_dir)
    feed = t.changes(1, 2)
    return (
        feed.groupBy(
            F.col("_change_type").alias("change_type"),
            (F.col("k") % 7).alias("grp"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .withColumn("strategy", F.lit(t.last_changes_strategy))
        .orderBy("change_type", "grp")
    )


def table_cdf_staged_scan_oracle() -> str:
    from ..queries._util import cents_sql

    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, o_totalprice AS price FROM orders
        ),
        changes AS (
            SELECT 'delete' AS change_type, k, price
            FROM base WHERE k % 5 = 0
            UNION ALL
            SELECT 'delete', k, price
            FROM base WHERE k % 5 <> 0 AND k % 3 = 0
            UNION ALL
            SELECT 'insert', k, price + 5
            FROM base WHERE k % 5 <> 0 AND k % 3 = 0
        )
        SELECT change_type, k % 7 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents,
               'staged' AS strategy
        FROM changes GROUP BY change_type, grp
        ORDER BY change_type, grp
    """


def _race_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Table built by a REAL commit race (round 11): v0 lands
    every k % 3 == 0 order; then two handles append the k % 3 == 1 and
    k % 3 == 2 slices AGAINST THE SAME BASE — the second append's
    manifest write is interposed so the first commits underneath it
    and its version claim truly collides. The blind-append rebase must
    land BOTH (Delta's append-never-conflicts rule): builder-asserted
    that the race fired, that the loser retried onto v2, and that the
    table ends at version 2 with all three slices."""

    def build(t):
        base = _k_price(spark, sf_dir)
        t.overwrite(base.where(F.col("k") % 3 == 0))                # v0
        t1, t2 = _handle(t), _handle(t)
        with race(                                              # v1 wins
            t1, lambda: t2.append(base.where(F.col("k") % 3 == 1))
        ) as fired:
            v = t1.append(base.where(F.col("k") % 3 == 2))  # rebases to v2
        if not fired or v != 2 or t.current_version() != 2:
            raise AssertionError(
                f"append rebase did not engage: raced={bool(fired)} "
                f"v={v} current={t.current_version()}"
            )

    return _orders_table(spark, sf_dir, "race_tbl", build)


def table_append_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blind-append commit rebase, driver-checked: after the interposed
    race (see ``_race_table``) the table must hold EXACTLY the union of
    the base and both racing appends — nothing lost to the losing
    claim, nothing doubled by its retry. The oracle is plain SQL over
    the source (all three k%3 slices = every order exactly once)."""
    from ._util import cents

    t = _race_table(spark, sf_dir)
    return (
        t.read()
        .groupBy((F.col("k") % 7).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_append_race_oracle() -> str:
    from ._util import cents_sql

    return f"""
        SELECT o_orderkey % 7 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT)
                   AS total_cents
        FROM orders
        GROUP BY grp ORDER BY grp
    """


def _disjoint_race_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Table built by a REAL NON-BLIND commit race (round 12):
    v0 lands every order partitioned by ``p = k % 4``; then two
    handles run partition-SCOPED MERGE UPSERTs against the same base —
    the loser repricing partition '1' (+1), the interposed winner
    partition '2' (+2) — and the loser's manifest claim truly
    collides. Delta's logical conflict detection must land BOTH
    (disjoint read/write regions rebase instead of raising,
    sources/tables.py _rebind_for_disjoint_rebase): builder-asserted
    that the race fired, that the loser rebased onto v2, and that the
    table holds both writers' changes. At 100 TB this is N parallel
    partitioned ingest MERGEs instead of serialized ones."""

    def reprice(base, p, by):
        return base.where(F.col("p") == p).select(
            "k", (F.col("price") + by).alias("price"), "p"
        )

    def build(t):
        base = _k_price(spark, sf_dir).withColumn(
            "p", (F.col("k") % 4).cast("string")
        )
        t.overwrite(base)                                           # v0
        t1, t2 = _handle(t), _handle(t)
        with race(                                              # v1 wins
            t1, lambda: t2.merge_upsert(reprice(base, "2", 2), ["p", "k"])
        ) as fired:
            v = t1.merge_upsert(reprice(base, "1", 1), ["p", "k"])  # v2
        if not fired or v != 2 or t.current_version() != 2:
            raise AssertionError(
                f"disjoint merge rebase did not engage: "
                f"raced={bool(fired)} v={v} current={t.current_version()}"
            )

    return _orders_table(
        spark, sf_dir, "djrace_tbl", build, partition_columns=["p"]
    )


def table_disjoint_merge_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint-region concurrent MERGEs, driver-checked: after the
    interposed claim collision (see ``_disjoint_race_table``) the
    table must hold BOTH writers' repricings — partition 1 at +1,
    partition 2 at +2, partitions 0/3 untouched — with no row lost,
    doubled, or cross-contaminated. The oracle is plain SQL over the
    source applying both updates."""
    from ._util import cents

    t = _disjoint_race_table(spark, sf_dir)
    return (
        t.read()
        .groupBy(F.col("p").cast("long").alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_disjoint_merge_race_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH adj AS (
            SELECT o_orderkey % 4 AS grp,
                   o_totalprice
                       + CASE o_orderkey % 4
                             WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0
                         END AS price
            FROM orders
        )
        SELECT grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM adj GROUP BY grp ORDER BY grp
    """


def _row_tracking_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Row-tracking fixture: v0 lands every order (k, price),
    v1 enables ``delta.enableRowTracking`` (backfill on commit), v2
    appends the k%3==0 slice repriced, v3 OPTIMIZEs (bin-pack, ids
    MATERIALIZE into the rewritten files), v4 runs a COPY-ON-WRITE
    UPDATE (k%5==0 → price+10, deletion_vectors=False — round 12: DML
    rewrites PRESERVE ids by materializing them, closing the r11
    divergence). Ids are minted densely, so whatever per-file
    assignment order a run produced, the id SET is exactly
    {0 .. N-1} — the deterministic invariant the oracle checks,
    through BOTH the maintenance rewrite and the DML rewrite."""

    def build(t):
        base = _k_price(spark, sf_dir)
        t.overwrite(base)                                           # v0
        t.set_properties({"delta.enableRowTracking": "true"})       # v1
        t.append(
            base.where(F.col("k") % 3 == 0).select(
                "k", (F.col("price") + 1).alias("price")
            )
        )                                                           # v2
        t.optimize(min_small_files=1)                               # v3
        t.update_where(                                             # v4
            {"price": "price + 10"}, F.col("k") % 5 == 0,
            deletion_vectors=False,
        )

    return _orders_table(spark, sf_dir, "rowtrack_tbl", build)


def table_row_tracking_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking, driver-checked: after backfill + append +
    materializing OPTIMIZE + a copy-on-write UPDATE the id set must
    be EXACTLY {0 .. N-1} — unique (count == count distinct), dense
    (min 0, max N-1, sum = N(N-1)/2), and every row still carries
    one: neither the maintenance rewrite nor the DML rewrite re-mints
    (round 12 closes the documented r11 CoW divergence). Row values
    prove the rewrites lost nothing and the UPDATE landed."""
    from ..queries._util import cents

    t = _row_tracking_table(spark, sf_dir)
    df = t.read_with_row_ids()
    return df.groupBy((F.col("k") % 2).alias("grp")).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col("_row_id")).alias("n_ids"),
        F.sum(cents(F.col("price"))).alias("total_cents"),
    ).unionByName(
        df.select(
            F.lit(-1).alias("grp"),
            (F.max("_row_id") - F.min("_row_id") + 1).alias("n_rows"),
            F.count_distinct("_row_id").alias("n_ids"),
            F.sum("_row_id").alias("total_cents"),  # = N(N-1)/2
        )
    ).orderBy("grp")


def table_row_versions_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row commit versions (Delta row tracking's second field),
    driver-checked over the same fixture: every row's
    ``_row_commit_version`` must be the commit that last inserted or
    updated it — base rows backfilled at the enable commit (v1), the
    appended slice stamped v2, the OPTIMIZE at v3 preserving both,
    and the v4 copy-on-write UPDATE bumping EXACTLY the k%5==0 rows.
    The oracle derives each row's expected version relationally;
    version sums + updated-row counts + id uniqueness ride the hash."""
    t = _row_tracking_table(spark, sf_dir)
    df = t.read_with_row_ids(with_commit_versions=True)
    return (
        df.groupBy((F.col("k") % 2).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_row_commit_version").alias("ver_sum"),
            F.count(
                F.when(F.col("_row_commit_version") == 4, F.lit(1))
            ).alias("n_updated"),
            F.count_distinct("_row_id").alias("n_ids"),
        )
        .orderBy("grp")
    )


def table_row_versions_scan_oracle() -> str:
    return """
        WITH staged AS (
            SELECT o_orderkey AS k, 1 AS src FROM orders
            UNION ALL
            SELECT o_orderkey, 2 FROM orders WHERE o_orderkey % 3 = 0
        ),
        vers AS (
            SELECT k, CASE WHEN k % 5 = 0 THEN 4 ELSE src END AS ver
            FROM staged
        )
        SELECT k % 2 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM(ver) AS BIGINT) AS ver_sum,
               CAST(COUNT(CASE WHEN ver = 4 THEN 1 END) AS BIGINT)
                   AS n_updated,
               COUNT(*) AS n_ids
        FROM vers GROUP BY grp ORDER BY grp
    """


def table_row_tracking_scan_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH staged AS (
            SELECT o_orderkey AS k, o_totalprice AS price FROM orders
            UNION ALL
            SELECT o_orderkey, o_totalprice + 1 FROM orders
            WHERE o_orderkey % 3 = 0
        ),
        rows_all AS (
            -- the v4 copy-on-write UPDATE: k%5==0 rows repriced +10
            SELECT k,
                   CASE WHEN k % 5 = 0 THEN price + 10 ELSE price END
                       AS price
            FROM staged
        ),
        n AS (SELECT COUNT(*) AS total FROM rows_all)
        SELECT k % 2 AS grp,
               COUNT(*) AS n_rows,
               COUNT(*) AS n_ids,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM rows_all GROUP BY grp
        UNION ALL
        SELECT -1, total, total, total * (total - 1) // 2 FROM n
        ORDER BY grp
    """


def _unpartitioned_race_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """UNPARTITIONED table built by a REAL FILE-level commit
    race (round 13): v0 lands orders with k <= mid, v1 appends k > mid
    (two disjoint file sets by construction); then two handles race —
    the interposed winner runs a merge-on-read ``UPDATE (DV)``
    repricing a slice of the HIGH half (+2), the loser a merge-on-read
    ``DELETE (DV)`` of a slice of the LOW half — and the loser's
    manifest claim truly collides. Entry-level conflict detection can
    never prove disjointness here (an unpartitioned table has one base
    entry key), so this exercises Delta's FILE-set ConflictChecker
    (sources/tables.py _dv_rebase_conflicts): the loser's touched
    files and read predicate (declared as filter-triple DNF) are
    checked against the winner's added/removed/re-vectored files via
    footer stats, and the loser REBASES, reusing its staged DV.
    Builder-asserted: the race fired, the loser landed at v3, and both
    writers' changes hold. At 100 TB this is concurrent GDPR deletes /
    backfills on an unpartitioned dimension table landing in parallel
    instead of serializing."""
    return _dml_race_table(spark, sf_dir, "uprace_tbl", True)


def _key_bounds(base: DataFrame) -> tuple[int, int]:
    b = base.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).collect()[0]
    return int(b["lo"]), int(b["hi"])


def _dml_race_table(
    spark: SparkSession, sf_dir: str, kind: str, deletion_vectors: bool
) -> ManagedTable:
    """The two-commit (k <= mid, k > mid) table raced by an UPDATE of
    a high-half slice (+2, the winner) against a DELETE of a low-half
    slice (the loser, which must rebase onto v3); see
    ``_unpartitioned_race_table`` and ``_cow_race_table``."""
    what = "file-level DV" if deletion_vectors else "entry-scoped CoW"

    def build(t):
        base = _k_price(spark, sf_dir)
        lo, hi = _key_bounds(base)
        mid = (lo + hi) // 2
        q = mid // 4
        t.overwrite(base.where(F.col("k") <= mid))                 # v0
        t.append(base.where(F.col("k") > mid))                     # v1
        t1, t2 = _handle(t), _handle(t)
        with race(t1, lambda: t2.update_where(              # v2 wins
            {"price": "price + 2"},
            (F.col("k") > mid) & (F.col("k") % 10 == 3),
            deletion_vectors=deletion_vectors,
        )) as fired:
            v = t1.delete_where(                           # rebases to v3
                (F.col("k") <= q) & (F.col("k") % 10 == 7),
                deletion_vectors=deletion_vectors,
                read_filters=[[("k", "<=", q)]],
            )
        if not fired or v != 3 or t.current_version() != 3:
            raise AssertionError(
                f"{what} rebase did not engage: "
                f"raced={bool(fired)} v={v} current={t.current_version()}"
            )

    return _orders_table(spark, sf_dir, kind, build)


def table_unpartitioned_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-disjoint concurrent DML on an UNPARTITIONED table,
    driver-checked: after the interposed claim collision (see
    ``_unpartitioned_race_table``) the table must hold BOTH writers'
    changes — the low-half slice deleted, the high-half slice repriced
    +2, everything else untouched — with no row lost, doubled, or
    resurrected. The oracle applies both DMLs in plain SQL."""
    from ._util import cents

    t = _unpartitioned_race_table(spark, sf_dir)
    return (
        t.read()
        .groupBy((F.col("k") % 7).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_unpartitioned_race_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH bounds AS (
            SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid
            FROM orders
        ),
        adj AS (
            SELECT o_orderkey AS k,
                   o_totalprice
                       + CASE WHEN o_orderkey > (SELECT mid FROM bounds)
                                   AND o_orderkey % 10 = 3
                              THEN 2 ELSE 0 END AS price
            FROM orders
            WHERE NOT (o_orderkey <= (SELECT mid FROM bounds) // 4
                       AND o_orderkey % 10 = 7)
        )
        SELECT k % 7 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM adj GROUP BY grp ORDER BY grp
    """


def _optimize_race_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Table built by a REAL MAINTENANCE-vs-INGEST commit race
    (round 13, VERDICT r12 item 8): v0 lands every order partitioned
    by ``p = k % 4``; v1/v2 fragment partition '0' with two small
    appends; then the loser OPTIMIZEs partition '0' (bin-packing its
    three small files) while the interposed winner lands a
    partition-SCOPED MERGE repricing partition '1' (+1) — and the
    loser's manifest claim truly collides. The regions are disjoint
    (OPTIMIZE reads/rewrites only partition 0's entries; the merge
    only partition 1's), so the loser REBASES, reusing its compacted
    staged files (tests pin this shape at
    tests/test_disjoint_rebase.py:315 — this entry makes it
    driver-checked). At 100 TB this is background compaction never
    serializing against ingest on other partitions."""

    def build(t):
        base = _k_price(spark, sf_dir).withColumn(
            "p", (F.col("k") % 4).cast("string")
        )
        t.overwrite(base)                                           # v0
        extra = [(2_000_000_001, 111.0, "0"), (2_000_000_002, 222.0, "0")]
        for row in extra:                          # v1, v2: fragment p=0
            t.append(
                spark.createDataFrame([row], "k long, price double, p string")
            )
        t1, t2 = _handle(t), _handle(t)
        with race(t1, lambda: t2.merge_upsert(              # v3 wins
            base.where(F.col("p") == "1").select(
                "k", (F.col("price") + 1).alias("price"), "p"
            ),
            ["p", "k"],
        )) as fired:
            v = t1.optimize(min_small_files=2, where=[("p", "=", "0")])
        if not fired or v != 4 or t.current_version() != 4:
            raise AssertionError(
                f"optimize-vs-ingest rebase did not engage: "
                f"raced={bool(fired)} v={v} current={t.current_version()}"
            )

    return _orders_table(
        spark, sf_dir, "optrace_tbl", build, partition_columns=["p"]
    )


def table_optimize_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance racing disjoint ingest, driver-checked: after the
    interposed claim collision (see ``_optimize_race_table``) the
    table must hold the merge's repricing of partition 1 AND the
    compacted (value-identical) partition 0 including both fragment
    appends — nothing lost, doubled, or stale. The oracle applies the
    repricing and the two appended rows in plain SQL (OPTIMIZE is
    dataChange=false: values unaffected)."""
    from ._util import cents

    t = _optimize_race_table(spark, sf_dir)
    return (
        t.read()
        .groupBy(F.col("p").cast("long").alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_optimize_race_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH adj AS (
            SELECT o_orderkey % 4 AS grp,
                   o_totalprice
                       + CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END
                       AS price
            FROM orders
            UNION ALL
            SELECT 0, 111.0
            UNION ALL
            SELECT 0, 222.0
        )
        SELECT grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM adj GROUP BY grp ORDER BY grp
    """


def _merge_on_read_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """UNPARTITIONED table exercising merge-on-read MERGE
    (round 13: ``merge_clauses(deletion_vectors=True)`` — Delta's
    MERGE-with-DVs): v0 lands every order; ONE merge then (a) deletes
    the k%100==0 slice via a conditional matched-DELETE clause, (b)
    reprices k%10==3 (+5) via the matched-UPDATE clause, and (c)
    inserts two literal rows — all in one commit whose write set is
    the DV sidecar plus ONE appended dir of exactly the changed rows;
    every untouched file carries over byte-identical (the builder
    asserts the v0 entries survive verbatim and that history records
    MERGE (DV))."""

    def build(t):
        base = _k_price(spark, sf_dir)
        t.overwrite(base)                                           # v0
        v0_entries = set(t._read_manifest(0).values())
        src = (
            base.where((F.col("k") % 100 == 0) | (F.col("k") % 10 == 3))
            .select("k", "price")
            .unionByName(
                spark.createDataFrame(
                    [(3_000_000_001, 11.0), (3_000_000_002, 22.0)],
                    "k long, price double",
                )
            )
        )
        v = t.merge_clauses(                                        # v1
            src,
            ["k"],
            matched=[
                ("k % 100 = 0", "delete"),
                (None, {"price": "price + 5"}),
            ],
            not_matched=[(None, "insert_all")],
            deletion_vectors=True,
        )
        hist_op = t.history()[0]["operation"]
        v1_entries = set(t._read_manifest(v).values())
        if v != 1 or hist_op != "MERGE (DV)" or not v0_entries <= v1_entries:
            raise AssertionError(
                f"merge-on-read merge did not take the DV path: v={v} "
                f"op={hist_op!r} carried={v0_entries <= v1_entries}"
            )

    return _orders_table(spark, sf_dir, "mor_tbl", build)


def table_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE, driver-checked: deletes + repricing +
    inserts through one DV commit (see ``_merge_on_read_table``); the
    oracle replays the clauses relationally. Reading the table applies
    the deletion vectors, so a wrong or double-applied DV shows up as
    a value mismatch here."""
    from ._util import cents

    t = _merge_on_read_table(spark, sf_dir)
    return (
        t.read()
        .groupBy((F.col("k") % 7).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_merge_on_read_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH adj AS (
            SELECT o_orderkey AS k,
                   o_totalprice
                       + CASE WHEN o_orderkey % 10 = 3 THEN 5 ELSE 0 END
                       AS price
            FROM orders
            WHERE o_orderkey % 100 <> 0
            UNION ALL
            SELECT 3000000001, 11.0
            UNION ALL
            SELECT 3000000002, 22.0
        )
        SELECT k % 7 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM adj GROUP BY grp ORDER BY grp
    """


def _cow_race_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """UNPARTITIONED table built by a REAL COPY-ON-WRITE commit
    race (round 14, VERDICT r13 item 4): v0 lands orders with k <=
    mid, v1 appends k > mid (two disjoint file sets); then two handles
    race with ``deletion_vectors=False`` DML — the interposed winner
    runs an entry-scoped CoW ``UPDATE`` repricing a slice of the HIGH
    half (+2), the loser an entry-scoped CoW ``DELETE`` of a slice of
    the LOW half — and the loser's manifest claim truly collides.
    Round 13's file-level ConflictChecker covered only the DV path;
    the CoW DML declares its write set as exactly the files it
    restages (sources/tables.py _cow_matched_files; per-file since
    round 15) plus its read-predicate DNF, so the loser REBASES,
    reusing its staged survivor files. Builder-asserted: the race
    fired and the loser landed at v3. At 100 TB this is two selective
    copy-on-write rewrites (DVs disabled by policy) landing in
    parallel on an unpartitioned table instead of serializing — and
    each rewriting only its touched files, never the snapshot."""
    return _dml_race_table(spark, sf_dir, "cowrace_tbl", False)


def table_cow_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-disjoint concurrent COPY-ON-WRITE DML on an UNPARTITIONED
    table, driver-checked: after the interposed claim collision (see
    ``_cow_race_table``) the table must hold BOTH writers' changes —
    the low-half slice deleted, the high-half slice repriced +2 —
    with no row lost, doubled, or resurrected. The oracle applies both
    DMLs in plain SQL."""
    from ._util import cents

    t = _cow_race_table(spark, sf_dir)
    return (
        t.read()
        .groupBy((F.col("k") % 7).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_cow_race_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH bounds AS (
            SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid
            FROM orders
        ),
        adj AS (
            SELECT o_orderkey AS k,
                   o_totalprice
                       + CASE WHEN o_orderkey > (SELECT mid FROM bounds)
                                   AND o_orderkey % 10 = 3
                              THEN 2 ELSE 0 END AS price
            FROM orders
            WHERE NOT (o_orderkey <= (SELECT mid FROM bounds) // 4
                       AND o_orderkey % 10 = 7)
        )
        SELECT k % 7 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM adj GROUP BY grp ORDER BY grp
    """


def _file_cow_race_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """UNPARTITIONED table built by a REAL per-FILE
    copy-on-write race (round 15, VERDICT r14 item 2): v0 lands ALL
    orders in ONE manifest entry holding TWO range-split files (low
    half / high half of o_orderkey), so entry-level disjointness is
    unprovable — round 14's entry-scoped CoW serialized this shape.
    Two handles then race with ``deletion_vectors=False`` DML: the
    interposed winner runs a CoW ``UPDATE`` repricing a slice of the
    HIGH file (+2), the loser a CoW ``DELETE`` of a slice of the LOW
    file, and the loser's manifest claim truly collides. The per-file
    write set (only the files holding matched rows restage; untouched
    neighbors re-enter the manifest as ``@carry:`` file entries) lets
    the loser REBASE, reusing its staged survivors. Builder-asserted:
    the race fired, the winner's commit carried the low file as a
    file-granular carry entry, and the loser landed at v2. At 100 TB
    this is Delta's AddFile/RemoveFile granularity: two selective CoW
    rewrites inside one huge unpartitioned entry land in parallel,
    each writing O(its matched files), never the snapshot."""

    def build(t):
        base = _k_price(spark, sf_dir)
        lo, hi = _key_bounds(base)
        mid = (lo + hi) // 2
        q = mid // 4
        # ONE commit, ONE entry, MULTIPLE files with a DETERMINISTIC
        # boundary at mid (a sampled repartitionByRange boundary can
        # drift across scale factors and put both DML slices in one
        # file): a k-sorted single partition with maxRecordsPerFile =
        # |low half| rolls to a new file exactly at the boundary
        n_low = base.where(F.col("k") <= mid).count()
        prev_mrpf = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
        spark.conf.set("spark.sql.files.maxRecordsPerFile", str(n_low))
        try:
            t.overwrite(base.coalesce(1).sortWithinPartitions("k"))  # v0
        finally:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", prev_mrpf)
        stats0 = t._read_stats(0)
        file_bounds = [
            (s["cols"]["k"][0], s["cols"]["k"][1]) for s in stats0.values()
        ]
        low_files = [b for b in file_bounds if b[1] <= mid]
        high_files = [b for b in file_bounds if b[0] > mid]
        if (
            len(stats0) < 2
            or len(low_files) != 1
            or len(low_files) + len(high_files) != len(file_bounds)
        ):
            raise AssertionError(
                f"fixture wants a clean file split at {mid}: {file_bounds}"
            )
        t1, t2 = _handle(t), _handle(t)
        with race(t1, lambda: t2.update_where(              # v1 wins
            {"price": "price + 2"},
            (F.col("k") > mid) & (F.col("k") % 10 == 3),
            deletion_vectors=False,
        )) as fired:
            v = t1.delete_where(                           # rebases to v2
                (F.col("k") <= q) & (F.col("k") % 10 == 7),
                deletion_vectors=False,
                read_filters=[[("k", "<=", q)]],
            )
        if not fired or v != 2 or t.current_version() != 2:
            raise AssertionError(
                f"per-file CoW rebase did not engage: "
                f"raced={bool(fired)} v={v} current={t.current_version()}"
            )
        if not any("@carry:" in k for k in t._read_manifest(1)):
            raise AssertionError(
                "winner's commit did not carry the untouched neighbor "
                "file as a file-granular entry"
            )

    return _orders_table(spark, sf_dir, "fcowrace_tbl", build)


def table_file_cow_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAME-ENTRY, different-files concurrent COPY-ON-WRITE DML on an
    UNPARTITIONED table, driver-checked: after the interposed claim
    collision (see ``_file_cow_race_table``) the table must hold BOTH
    writers' changes — the low-file slice deleted, the high-file slice
    repriced +2 — with no row lost, doubled, or resurrected. The
    oracle applies both DMLs in plain SQL."""
    from ._util import cents

    t = _file_cow_race_table(spark, sf_dir)
    return (
        t.read()
        .groupBy((F.col("k") % 7).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_file_cow_race_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH bounds AS (
            SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid
            FROM orders
        ),
        adj AS (
            SELECT o_orderkey AS k,
                   o_totalprice
                       + CASE WHEN o_orderkey > (SELECT mid FROM bounds)
                                   AND o_orderkey % 10 = 3
                              THEN 2 ELSE 0 END AS price
            FROM orders
            WHERE NOT (o_orderkey <= (SELECT mid FROM bounds) // 4
                       AND o_orderkey % 10 = 7)
        )
        SELECT k % 7 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM adj GROUP BY grp ORDER BY grp
    """


def _sparse_bloom_race_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Table built by a REAL above-cap key-set race (round 15,
    VERDICT r14 item 3): v0 lands orders with k <= mid, v1 appends
    k > mid. The loser then runs a merge-on-read MERGE whose source
    has WELL OVER ``_KEY_SET_CAP`` distinct keys (every low-half
    k%10==7 order repriced +1, plus 1300 synthetic inserts beyond the
    table's max key) — a key set too large for the exact ``in``
    predicate, whose [min, max] span covers the whole table. The
    interposed winner DV-updates ONE high-half key (+2) mid-flight;
    its rewrite ADDS a file inside the loser's span, which the old
    BETWEEN fallback declared read (serialize). The round-15
    ``in_bloom`` sketch probes the added file's actual key value
    against the loser's exact key set, proves it is not one of the
    keys, and the loser REBASES. Builder-asserted: the declared DNF
    really is BETWEEN+in_bloom (above-cap), the race fired, the loser
    landed at v3. At 100 TB this is a bulk keyed MERGE landing in
    parallel with an unrelated racing rewrite inside its key span."""

    def build(t):
        base = _k_price(spark, sf_dir)
        lo, hi = _key_bounds(base)
        mid = (lo + hi) // 2
        chosen = (
            base.where((F.col("k") > mid) & (F.col("k") % 10 == 3))
            .agg(F.max("k"))
            .collect()[0][0]
        )
        t.overwrite(base.where(F.col("k") <= mid))                 # v0
        t.append(base.where(F.col("k") > mid))                     # v1
        src = (
            base.where((F.col("k") <= mid) & (F.col("k") % 10 == 7))
            .select("k", (F.col("price") + 1).alias("price"))
            .unionByName(
                spark.range(0, 1300).select(
                    (F.lit(hi) * 2 + F.col("id") * 10 + 7).alias("k"),
                    F.lit(11.0).alias("price"),
                )
            )
        )
        [trips] = t._source_key_dnf(src, ["k"])
        ops = [tr[1] for tr in trips]
        if "in_bloom" not in ops or "between" not in ops:
            raise AssertionError(
                f"above-cap key set did not declare BETWEEN+in_bloom: {ops}"
            )
        t1, t2 = _handle(t), _handle(t)
        with race(t1, lambda: t2.update_where(              # v2 wins
            {"price": "price + 2"},
            F.col("k") == int(chosen),
            deletion_vectors=True,
        )) as fired:
            v = t1.merge_clauses(                          # rebases to v3
                src,
                ["k"],
                matched=[(None, {"price": "src.price"})],
                not_matched=[(None, "insert_all")],
                deletion_vectors=True,
            )
        if not fired or v != 3 or t.current_version() != 3:
            raise AssertionError(
                f"above-cap bloom rebase did not engage: "
                f"raced={bool(fired)} v={v} current={t.current_version()}"
            )

    return _orders_table(spark, sf_dir, "kbloomrace_tbl", build)


def table_sparse_bloom_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-cap key-set MERGE racing a mid-span rewrite,
    driver-checked (see ``_sparse_bloom_race_table``): the table must
    hold BOTH writers' changes — every low-half k%10==7 order repriced
    +1, the 1300 synthetic keys inserted, and the winner's chosen
    high-half key repriced +2 — with no row lost, doubled, or stale.
    The oracle applies both writers in plain SQL."""
    from ._util import cents

    t = _sparse_bloom_race_table(spark, sf_dir)
    return (
        t.read()
        .groupBy((F.col("k") % 7).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
        )
        .orderBy("grp")
    )


def table_sparse_bloom_race_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH bounds AS (
            SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid,
                   MAX(o_orderkey) AS hi
            FROM orders
        ),
        chosen AS (
            SELECT MAX(o_orderkey) AS ck FROM orders
            WHERE o_orderkey > (SELECT mid FROM bounds)
              AND o_orderkey % 10 = 3
        ),
        adj AS (
            SELECT o_orderkey AS k,
                   o_totalprice
                       + CASE WHEN o_orderkey = (SELECT ck FROM chosen)
                              THEN 2 ELSE 0 END
                       + CASE WHEN o_orderkey <= (SELECT mid FROM bounds)
                                   AND o_orderkey % 10 = 7
                              THEN 1 ELSE 0 END AS price
            FROM orders
            UNION ALL
            SELECT (SELECT hi FROM bounds) * 2 + 10 * i + 7, 11.0
            FROM range(1300) t(i)
        )
        SELECT k % 7 AS grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents
        FROM adj GROUP BY grp ORDER BY grp
    """


def _identity_merge_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """IDENTITY table exercised by a merge-on-read MERGE that
    MINTS (round 14, VERDICT r13 item 2): v1 appends orders with
    k <= mid sorted by k — the two-phase assignment gives id =
    rank-of-k (partition offsets accumulate in range order), so the
    base pairing is deterministic and oracle-checkable. v2 is a
    ``merge_clauses(deletion_vectors=True)``: matched rows (k%10=3)
    reprice +5 KEEPING their ids, not-matched rows (high half, k%10=3)
    insert and mint fresh ids against the high watermark, the claim
    committing atomically with the DV transaction. Builder-asserted:
    the history op is MERGE (DV) and v1's data files carry over
    byte-identical (merge-on-read wrote only the changed rows).
    Minted-insert id PAIRING is join-order-dependent, so the oracle
    checks the insert ids as a SET (contiguous n+1..n+m) and the base
    ids exactly."""

    def build(t):
        t.set_identity_column("id", start=1, step=1)
        base = _k_price(spark, sf_dir)
        lo, hi = _key_bounds(base)
        mid = (lo + hi) // 2
        schema = (
            spark.createDataFrame([], "id long, k long, price double").schema
        )
        t.create_if_not_exists(schema)                             # v0
        t.append(base.where(F.col("k") <= mid).orderBy("k"))       # v1
        files_v1 = set(t._read_manifest(t.current_version()).values())
        t.merge_clauses(                                           # v2
            base.where(F.col("k") % 10 == 3).orderBy("k"),
            ["k"],
            matched=[(None, {"price": "price + 5"})],
            not_matched=[(None, "insert_all")],
            deletion_vectors=True,
        )
        hist = t.history()[0]["operation"]
        carried = files_v1 <= set(
            t._read_manifest(t.current_version()).values()
        )
        if hist != "MERGE (DV)" or not carried:
            raise AssertionError(
                f"identity merge-on-read did not engage: op={hist} "
                f"carried={carried}"
            )

    return _orders_table(spark, sf_dir, "idmerge_tbl", build)


def table_identity_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity columns under merge-on-read MERGE, driver-checked (see
    ``_identity_merge_table``): base rows must hold id = rank-of-k
    with matched rows repriced +5 and their ids KEPT (the pairing
    checksum ``sum(id * (k % 97))`` binds id to row); minted insert
    rows land as one contiguous id block n+1..n+m (grp = -1: count,
    id-sum, min, max pin the exact set) with their source values
    intact. The oracle reconstructs all of it in plain SQL."""
    from ._util import cents

    t = _identity_merge_table(spark, sf_dir)
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    b = base.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).collect()[0]
    mid = (int(b["lo"]) + int(b["hi"])) // 2
    n = base.where(F.col("k") <= mid).count()
    df = t.read()
    grp = F.when(F.col("id") <= n, F.col("k") % 7).otherwise(F.lit(-1))
    # the pairing checksum binds id<->row for BASE rows only: minted
    # insert ids are a deterministic SET (pinned by count/sum/min/max)
    # but their pairing is join-order-dependent
    pair = F.when(
        F.col("id") <= n, F.col("id") * (F.col("k") % 97)
    ).otherwise(F.lit(0))
    return (
        df.groupBy(grp.alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
            F.sum(pair).alias("id_pair_chk"),
            F.sum("id").alias("id_sum"),
            F.min("id").alias("id_min"),
            F.max("id").alias("id_max"),
        )
        .orderBy("grp")
    )


def table_identity_merge_dv_oracle() -> str:
    from ._util import cents_sql

    return f"""
        WITH bounds AS (
            SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid
            FROM orders
        ),
        base AS (
            SELECT o_orderkey AS k, o_totalprice AS price,
                   ROW_NUMBER() OVER (ORDER BY o_orderkey) AS id
            FROM orders WHERE o_orderkey <= (SELECT mid FROM bounds)
        ),
        nn AS (SELECT COUNT(*) AS n FROM base),
        upd AS (
            SELECT id, k,
                   price + CASE WHEN k % 10 = 3 THEN 5 ELSE 0 END AS price
            FROM base
        ),
        ins AS (
            SELECT (SELECT n FROM nn)
                       + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS id,
                   o_orderkey AS k, o_totalprice AS price
            FROM orders
            WHERE o_orderkey > (SELECT mid FROM bounds)
              AND o_orderkey % 10 = 3
        ),
        allr AS (
            SELECT id, k, price, k % 7 AS grp FROM upd
            UNION ALL
            SELECT id, k, price, -1 AS grp FROM ins
        )
        SELECT grp,
               COUNT(*) AS n_rows,
               CAST(SUM({cents_sql('price')}) AS BIGINT) AS total_cents,
               CAST(SUM(CASE WHEN grp = -1 THEN 0
                             ELSE id * (k % 97) END) AS BIGINT)
                   AS id_pair_chk,
               CAST(SUM(id) AS BIGINT) AS id_sum,
               MIN(id) AS id_min,
               MAX(id) AS id_max
        FROM allr GROUP BY grp ORDER BY grp
    """
