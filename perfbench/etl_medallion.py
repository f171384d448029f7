"""etl_medallion: the data engineer's batch latency.

The reference pipeline wired as ``tests/test_medallion_e2e.py`` wires it,
run over a series of seeded dirty customer micro-batches (``gen.SHARES``
states the dirt). The nations dimension is reference data: set-up
writes it to silver with ``ManagedTable.overwrite``. One unit is one
landed batch: ``bronze_ingest``, ``validate_to_silver`` (domain rule on
the segment, FK to nations), ``recover_dlq`` with a cleanse that fixes
the recoverable segments, then ``build_gold`` of customers by nation and
segment. Silver reads, id point lookups, a gold read, and from the
second batch on a ``changes(v_prev)`` read and a time-travel read
follow; every second batch ends with ``optimize()`` + ``vacuum()`` of
the bronze, silver and DLQ tables. Tables start empty in a fresh location each run.

Only customers stream: every pipeline call costs seconds of per-job
overhead at this data size, and a run has to fit the benchmark's time
budget. Customers carry the DLQ cleanse, so they reach every pipeline.

Each validation sees the bronze rows of the keys its batch touched, so
an update to a key already in silver meets its earlier row and goes to
the DLQ as an ingested duplicate; that keeps ``silver + still-invalid
DLQ = bronze`` an invariant across batches.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from core import Footprint

KEY = "c_custkey"
COLUMNS = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment", "created_on"]
PARTITIONS = ["year", "month"]
HITS, MISSES = 3, 1  # point lookups per batch on present and absent keys
MAINTAIN_EVERY = 2  # batches between OPTIMIZE + VACUUM rounds


class EtlMedallion:
    name = "etl_medallion"

    unit_s = 10.0  # nominal seconds of one warm batch on a 4-core host

    def __init__(self, spark, work: str, seed: int, root: str):
        self.spark, self.work, self.seed, self.root = spark, work, seed, root
        self.rng = np.random.default_rng([seed, 20])
        self.footprint = Footprint()
        self.kept = [0, 0]
        self.user_bytes = 0
        self.dlq = {"attempted": 0, "recovered": 0, "still_invalid": 0}

    # ---------------------------------------------------------- set-up
    def generate(self, rep: int, n_units: int) -> None:
        self.batches = gen.medallion_batches(
            self.seed, os.path.join(self.work, f"batches_{rep}"), n_units
        )

    def prepare(self, ops) -> None:
        """Write the nations dimension to silver."""
        from pyspark.sql import functions as F

        from databricks_data_warehouse_spark.sources.tables import ManagedTable

        first = self.batches[0]
        df = (
            self.spark.read.parquet(first.paths["nations"])
            .withColumn("year", F.year("created_on"))
            .withColumn("month", F.month("created_on"))
            .withColumn("silver_ingestion_time", F.current_timestamp())
        )
        self.nations = ManagedTable(
            self.spark, "silver_nations", os.path.join(self.work, "dims", "silver_nations"),
            schema=df.schema, partition_columns=PARTITIONS,
        )

        def load():
            self.nations.create_if_not_exists()
            return self.nations.overwrite(df)

        ops.op("write", "tables.overwrite.silver_nations", load, rows=first.rows["nations"])

    def after_setup(self) -> None:
        from databricks_data_warehouse_spark.pipelines import DomainRule
        from databricks_data_warehouse_spark.sources.tables import ManagedTable

        self.tables_dir = os.path.join(self.work, "tables")
        self.footprint.add_root(self.tables_dir)
        loc = lambda n: os.path.join(self.tables_dir, n)  # noqa: E731
        self.loc = loc
        self.silver = ManagedTable(self.spark, "silver_customers", loc("silver_customers"),
                                   partition_columns=PARTITIONS)
        # the partitioning validate_to_silver gives the DLQ it creates
        self.dlq_table = ManagedTable(self.spark, "dlq_customers", loc("dlq_customers"),
                                      partition_columns=PARTITIONS)
        self.bronze = None
        self.rules = [DomainRule("c_mktsegment", gen.SEGMENTS)]
        self.gold_loc = loc("gold_customers_by_segment")

    # ------------------------------------------------------------- ops
    def _bronze(self, ops, batch):
        from databricks_data_warehouse_spark import pipelines as P

        path = batch.paths["customers"]
        fn = lambda: P.bronze_ingest(  # noqa: E731
            self.spark, self.spark.read.parquet(path), self.loc("bronze_customers"),
            "bronze_customers", timestamp_column="created_on", dedup_columns=[KEY],
        )
        self.bronze = ops.op("write", "pipelines.bronze_ingest.customers", fn,
                             rows=batch.rows["customers"])
        self.footprint.scan()

    def _validate(self, ops, batch) -> int:
        from databricks_data_warehouse_spark import pipelines as P

        def run():
            touched = self.spark.read.parquet(batch.paths["customers"]).select(KEY).distinct()
            rows = self.bronze.read().join(touched, [KEY], "left_semi")
            return P.validate_to_silver(
                self.spark, rows, self.silver, self.loc("dlq_customers"), "dlq_customers",
                id_columns=[KEY], ingestion_timestamp="bronze_ingestion_time",
                rules=self.rules,
                fk_rules=[P.FkRule("c_nationkey", self.nations.read(), "n_nationkey")],
                silver_columns=COLUMNS + PARTITIONS, preserve_unclean=["c_mktsegment"],
            )

        counts = ops.op("write", "pipelines.validate_to_silver.customers", run)
        self.footprint.scan()
        return counts["invalid"]

    def _recover(self, ops, new_invalid):
        from pyspark.sql import functions as F

        from databricks_data_warehouse_spark import pipelines as P

        def cleanse(df):
            return df.withColumn("c_mktsegment", F.upper(F.trim("c_mktsegment")))

        fn = lambda: P.recover_dlq(  # noqa: E731
            self.spark, self.dlq_table, self.silver, self.bronze, id_columns=[KEY],
            silver_columns=COLUMNS + PARTITIONS,
            dlq_key_columns=[KEY, "window_id", "unclean_c_mktsegment"],
            cleanse=cleanse, rules=self.rules,
        )
        out = ops.op("write", "pipelines.recover_dlq.customers", fn)
        self.footprint.scan()
        attempted = self.dlq["still_invalid"] + new_invalid
        self.dlq["attempted"] += attempted
        self.dlq["recovered"] += attempted - out["still_invalid"]
        self.dlq["still_invalid"] = out["still_invalid"]

    def _gold(self, ops, batch):
        from pyspark.sql import functions as F

        from databricks_data_warehouse_spark import pipelines as P

        expected = len(batch.silver_keys["customers"])

        def run():
            cust = self.silver.read()
            nations = self.nations.read().select("n_nationkey", "n_name")
            gold_df = (
                cust.join(nations, cust.c_nationkey == nations.n_nationkey)
                .groupBy("n_name", "c_mktsegment", "year", "month")
                .agg(F.count("*").alias("customer_count"))
            )
            return P.build_gold(
                self.spark, gold_df, self.gold_loc, "gold_customers_by_segment",
                key_columns=["n_name", "c_mktsegment", "year", "month"],
                count_column="customer_count", expected_total=expected,
                partition_columns=PARTITIONS,
            )

        self.gold = ops.op("write", "pipelines.build_gold", run)
        self.footprint.scan()

    def _reads(self, ops, batch, prev):
        from pyspark.sql import functions as F

        truth = batch.silver_keys["customers"]
        n = len(truth)
        ops.op("read", "tables.read.silver_customers", lambda: self.silver.read().count(),
               lambda got: None if got == n else f"{got} rows != {n}", rows=n)
        keys = sorted(truth)
        for _ in range(HITS):
            k = int(keys[self.rng.integers(0, len(keys))])
            self._point(ops, k, 1)
        top = max(truth) + 1
        for _ in range(MISSES):
            dead = int(self.rng.integers(0, top))
            while dead in truth:
                dead = int(self.rng.integers(0, top))
            self._point(ops, dead, 0)
        gold = self.gold
        ops.op("read", "tables.read.gold",
               lambda: gold.read().agg(F.sum("customer_count")).collect()[0][0],
               lambda got: None if got == n else f"gold total {got} != silver {n}")
        if prev is None:
            return
        v_prev, n_prev = prev
        ops.op(
            "read", "tables.changes.silver_customers",
            lambda: self.silver.changes(v_prev).where(F.col("_change_type") == "insert").count(),
            lambda got: None if got == n - n_prev else f"{got} inserts != {n - n_prev}",
        )
        ops.op(
            "read", "tables.read.time_travel_customers",
            lambda: self.silver.read(version=v_prev).count(),
            lambda got: None if got == n_prev else f"{got} != {n_prev}",
        )

    def _point(self, ops, key, want):
        filters = [(KEY, "=", key)]
        table = self.silver
        ops.op("read", "tables.scan.silver_customers",
               lambda: table.scan(filters).collect(),
               lambda out: None if len(out) == want else f"{len(out)} rows != {want}")
        if ops.tracer is not None:
            rep = table.skipping_report(filters)
            self.kept[0] += rep["files_kept"]
            self.kept[1] += rep["files_total"]

    def _maintain(self, ops):
        """OPTIMIZE then VACUUM every table a batch appends to. The
        end-of-run invariants read these tables after the last round."""
        for kind, table in (("bronze", self.bronze), ("silver", self.silver),
                            ("dlq", self.dlq_table)):
            ops.op("write", f"tables.optimize.{kind}_customers", table.optimize)
            self.footprint.scan()
            ops.op("write", f"tables.vacuum.{kind}_customers",
                   lambda t=table: t.vacuum(keep=2))

    def unit(self, ops) -> float:
        """Land batch ``ops.unit``; returns its landing-to-gold seconds."""
        batch = self.batches[ops.unit]
        prev = None
        if self.silver.exists():
            prev = (self.silver.current_version(),
                    len(self.batches[ops.unit - 1].silver_keys["customers"]))
        start = len(ops.records)
        self._bronze(ops, batch)
        self._recover(ops, self._validate(ops, batch))
        self._gold(ops, batch)
        landed = sum(r.seconds for r in ops.records[start:])
        self.user_bytes += os.path.getsize(batch.paths["customers"])
        self._reads(ops, batch, prev)
        if ops.unit % MAINTAIN_EVERY == 0 and ops.unit > 0:
            self._maintain(ops)
        self.last = batch
        return landed

    def finish(self, ops) -> None:
        """Untimed end-of-run invariants."""
        from pyspark.sql import functions as F

        truth = self.last.silver_keys["customers"]
        silver = self.silver.read()
        keys = {r[0] for r in silver.select(KEY).collect()}
        ops.check("silver_keys", None if keys == truth else
                  f"{len(keys)} keys != expected {len(truth)}")
        n_bronze = self.bronze.read().count()
        n_dead = self.dlq_table.read().where(F.col("validation_status") == "invalid").count()
        ops.check("conservation", None if silver.count() + n_dead == n_bronze
                  else f"silver + still-invalid DLQ != bronze {n_bronze}")

    def all_tables(self):
        """The tables the batches write (the nations dimension is set-up's)."""
        out = {"bronze": self.bronze, "silver": self.silver, "dlq": self.dlq_table,
               "gold": getattr(self, "gold", None)}
        return {k: t for k, t in out.items() if t is not None and t.exists()}

    def table_versions(self) -> dict[str, int]:
        return {k: t.current_version() for k, t in self.all_tables().items()}

    def live_files(self) -> int:
        return sum(len(t.read().inputFiles()) for t in self.all_tables().values())
