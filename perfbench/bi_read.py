"""bi_read: the analyst's latency.

A seeded star in the sf0.1 shape plus a ``ManagedTable`` copy of
lineitem, partitioned by ship year and range-laid-out on l_orderkey so
``scan`` can skip files. One unit is a pass over the op mix in a seeded
shuffled order: every query below, each ``.collect()``ed, and five
``ManagedTable`` lookups. Query answers are checked against their
DuckDB twins, lookups against the generated rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import gen
from core import Footprint, Oracle, fresh_dir

# (module, query): each shape the gold/dashboard users wait on, from
# scan-aggregate (q1) to multi-join top-k (q3, q18) and windows
QUERIES = [
    ("tpch", "tpch_q1_pricing_summary"),
    ("tpch", "tpch_q3_shipping_priority"),
    ("tpch", "tpch_q18_large_volume_customers"),
    ("gold", "gold_orders_by_city"),
    ("dashboard", "dash_top_nations_by_segment"),
    ("aggregates", "agg_rollup_customers"),
]
RANGE_WIDTH = 400  # order keys per range lookup
# lookups per pass: scan point, scan point + partition, scan range, read filter
POINTS, POINT_YEARS, RANGES, READS = 2, 1, 1, 1
TABLE_FILES_PER_YEAR = 4


class BiRead:
    name = "bi_read"

    unit_s = 5.0  # nominal seconds of one warm pass on a 4-core host

    def __init__(self, spark, work: str, seed: int, root: str):
        self.spark, self.work, self.seed, self.root = spark, work, seed, root
        self.rng = np.random.default_rng([seed, 10])
        self.footprint = Footprint()
        self.kept = [0, 0]  # files kept / files total over traced scans

    # ---------------------------------------------------------- set-up
    def generate(self, rep: int, n_units: int) -> None:
        """One star serves every pass."""
        self.data = fresh_dir(os.path.join(self.work, f"star_{rep}"))
        self.rows = gen.star(self.seed, self.data)

    def prepare(self, ops) -> None:
        """Build the lineitem copy: the only table write of bi_read."""
        from pyspark.sql import functions as F

        from databricks_data_warehouse_spark.queries._util import load
        from databricks_data_warehouse_spark.sources.tables import ManagedTable

        loc = os.path.join(self.work, "lineitem_table")
        src = (
            load(self.spark, self.data, "lineitem")
            .withColumn("l_shipyear", F.year("l_shipdate"))
            .repartitionByRange(TABLE_FILES_PER_YEAR, "l_orderkey")
        )
        table = ManagedTable(
            self.spark, "lineitem_copy", loc, schema=src.schema,
            partition_columns=["l_shipyear"], sort_columns=["l_orderkey"],
        )

        def build():
            table.create_if_not_exists()
            return table.overwrite(src)

        ops.op("write", "tables.overwrite.lineitem", build)
        self.table = table
        self.footprint.add_root(loc)
        self.footprint.scan()

    def after_setup(self) -> None:
        """Untimed: the oracle and the ground truth for lookups."""
        from databricks_data_warehouse_spark.queries import (
            aggregates, dashboard, gold, tpch,
        )

        mods = {"tpch": tpch, "gold": gold, "dashboard": dashboard,
                "aggregates": aggregates}
        self.queries = [(n, getattr(mods[m], n)) for m, n in QUERIES]
        self.oracle = Oracle(self.root, self.data, gen.STAR_TABLES)
        li = pq.read_table(
            os.path.join(self.data, "lineitem.parquet"),
            columns=["l_orderkey", "l_quantity", "l_shipdate"],
        )
        self.li_key = li["l_orderkey"].to_numpy()
        self.li_qty = li["l_quantity"].to_numpy()
        self.li_year = li["l_shipdate"].to_numpy().astype("datetime64[Y]").astype(int) + 1970
        self.n_orders = self.rows["orders"]
        self.table_rows = self.rows["lineitem"]
        self.user_bytes = os.path.getsize(os.path.join(self.data, "lineitem.parquet"))

    # ------------------------------------------------------------- ops
    def _expect(self, mask) -> tuple[int, float]:
        return int(mask.sum()), float(self.li_qty[mask].sum())

    def _lookup(self, ops, name, filters, mask, via_read=False):
        from pyspark.sql import functions as F

        table = self.table
        if via_read:
            (col, _, k), = filters
            fn = lambda: table.read().where(F.col(col) == k).collect()  # noqa: E731
        else:
            fn = lambda: table.scan(filters).collect()  # noqa: E731
        want = self._expect(mask)

        def check(out):
            got = (len(out), float(sum(r["l_quantity"] for r in out)))
            return None if got == want else f"{got} != {want}"

        ops.op("read", name, fn, check, rows=self.table_rows)
        if not via_read:  # after the op, so it cannot warm the scan
            rep = table.skipping_report(filters)
            ops.records[-1].rows = rep["rows_kept_bound"]
            self.kept[0] += rep["files_kept"]
            self.kept[1] += rep["files_total"]

    def unit(self, ops) -> float:
        """One pass: every query and the lookups, shuffled; returns the
        pass's op seconds."""
        tracer = ops.tracer
        steps = []
        for name, fn in self.queries:
            def run_query(name=name, fn=fn):
                if tracer is None:
                    df = fn(self.spark, self.data)
                    return df, df.collect()
                with tracer.span("queries.plan"):
                    df = fn(self.spark, self.data)
                with tracer.span("queries.exec"):
                    return df, df.collect()

            steps.append(lambda name=name, run=run_query: ops.op(
                "read", f"queries.{name}", run,
                lambda out, name=name: self._check_query(ops, name, *out),
            ))
        for _ in range(POINTS):
            k = int(self.rng.integers(0, self.n_orders))
            steps.append(lambda k=k: self._lookup(
                ops, "tables.scan.point", [("l_orderkey", "=", k)],
                self.li_key == k))
        for _ in range(POINT_YEARS):
            k = int(self.rng.integers(0, self.n_orders))
            y = int(self.rng.integers(1995, 2002))
            steps.append(lambda k=k, y=y: self._lookup(
                ops, "tables.scan.point_year",
                [("l_shipyear", "=", y), ("l_orderkey", "=", k)],
                (self.li_key == k) & (self.li_year == y)))
        for _ in range(RANGES):
            lo = int(self.rng.integers(0, self.n_orders - RANGE_WIDTH))
            hi = lo + RANGE_WIDTH - 1
            steps.append(lambda lo=lo, hi=hi: self._lookup(
                ops, "tables.scan.range", [("l_orderkey", "between", lo, hi)],
                (self.li_key >= lo) & (self.li_key <= hi)))
        for _ in range(READS):
            k = int(self.rng.integers(0, self.n_orders))
            steps.append(lambda k=k: self._lookup(
                ops, "tables.read.point", [("l_orderkey", "=", k)],
                self.li_key == k, via_read=True))
        start = len(ops.records)
        for i in self.rng.permutation(len(steps)):
            steps[i]()
        return sum(r.seconds for r in ops.records[start:])

    def _check_query(self, ops, name, df, rows):
        if ops.unit >= 1:
            # input rows of a warm query op: the generated tables its
            # plan reads (not asked in the cold pass, where it could warm
            # the ops after it)
            ops.records[-1].rows = sum(
                self.rows[os.path.basename(f).removesuffix(".parquet")]
                for f in df.inputFiles()
            )
        return self.oracle.compare(name, rows, df.columns)

    def finish(self, ops) -> None:
        self.oracle.close()

    def table_versions(self) -> dict[str, int]:
        return {"lineitem_copy": self.table.current_version()}

    def live_files(self) -> int:
        return len(self.table.read().inputFiles())
