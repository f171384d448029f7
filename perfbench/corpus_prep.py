"""corpus_prep: the ML-data user's corpus build latency.

A seeded series of document shards (testdata vocabulary and lang/source
mix, ``gen.NEAR_DUP_SHARE`` near-duplicates), each one parquet file
with one row group like the testdata. One unit is one shard:
``pipelines.corpus.build_training_corpus`` into a fresh location, then
``ext.dedup.minhash_candidate_pairs`` and ``ext.text.text_quality``,
each collected, and a read-back of the corpus table. The near-dup edge
table is built inside every shard's corpus build: the scratch root is
empty when the run starts, and each build must leave one new
``ngram_pairs_*`` entry there.
"""

from __future__ import annotations

import os

import gen
from core import Footprint, Oracle

# the DuckDB minhash twin that checks the cold shard grows faster than
# linearly with shard size; 500 docs keep it to a few seconds
DOCS_PER_SHARD = 500


def _edge_tables() -> set[str]:
    """The committed n-gram pair tables in the package scratch root."""
    from databricks_data_warehouse_spark.streaming.windows import _scratch_root

    root = _scratch_root()
    return {
        n for n in os.listdir(root)
        if n.startswith("ngram_pairs_") and os.path.exists(os.path.join(root, n, "_SUCCESS"))
    }


class CorpusPrep:
    name = "corpus_prep"

    unit_s = 5.0  # nominal seconds of one warm shard on a 4-core host

    def __init__(self, spark, work: str, seed: int, root: str):
        self.spark, self.work, self.seed, self.root = spark, work, seed, root
        self.footprint = Footprint()
        self.kept = [0, 0]
        self.user_bytes = 0
        self.pairs_passing = 0  # ngram pairs at or above the threshold
        self.tables = {}

    def generate(self, rep: int, n_units: int) -> None:
        self.shards = gen.corpus_shards(
            self.seed, os.path.join(self.work, f"shards_{rep}"), n_units, DOCS_PER_SHARD
        )

    def prepare(self, ops) -> None:
        pass

    def after_setup(self) -> None:
        self.tables_dir = os.path.join(self.work, "tables")
        self.footprint.add_root(self.tables_dir)
        self.oracle = Oracle(self.root, self.shards[0].dir, ["documents"])

    def unit(self, ops) -> float:
        """One shard; returns its op seconds."""
        from databricks_data_warehouse_spark import pipelines as P
        from databricks_data_warehouse_spark.ext import dedup, text

        shard = self.shards[ops.unit]
        start = len(ops.records)
        edges_before = _edge_tables()
        self.oracle.use_dir(shard.dir, ["documents"])
        loc = os.path.join(self.tables_dir, f"training_corpus_{shard.index:03d}")

        def check_counts(out):
            _, c = out
            if c["docs"] != shard.docs:
                return f"{c['docs']} docs != {shard.docs}"
            if c["rejected"] + c["dup_dropped"] + c["final"] != c["docs"]:
                return f"conservation: {c}"
            return None if c["final"] > 0 else "empty corpus"

        table, counts = ops.op(
            "write", "pipelines.build_training_corpus",
            lambda: P.build_training_corpus(self.spark, shard.dir, loc),
            check_counts, rows=shard.docs,
        )
        new = _edge_tables() - edges_before
        ops.check("ngram_pairs_built", None if len(new) == 1 else
                  f"{len(new)} new ngram_pairs_* entries in the scratch root, not 1")
        self.tables[shard.index] = table
        self.footprint.scan()
        self.user_bytes += shard.bytes

        for name, fn, twin in (
            ("ext.minhash_candidate_pairs", dedup.minhash_candidate_pairs, "dedup_minhash_pairs"),
            ("ext.text_quality", text.text_quality, "text_quality"),
        ):
            def run(fn=fn):
                df = fn(self.spark, shard.dir)
                return df.columns, df.collect()

            ops.op("read", name, run,
                   lambda out, twin=twin: self._compare(ops, twin, out[1], out[0]),
                   rows=shard.docs)
        ops.op(
            "read", "tables.read.training_corpus",
            lambda: table.read().groupBy("split").count().collect(),
            lambda out: None if sum(r["count"] for r in out) == counts["final"]
            else "corpus read-back != final count",
            rows=counts["final"],
        )
        # untimed: the edge table the corpus build materialized in the
        # scratch root (a cache hit now), against its DuckDB twin
        pairs = dedup.ngram_jaccard_pairs_cached(self.spark, shard.dir)
        got = pairs.collect()
        ops.check("ngram_pairs", self._compare(ops, "dedup_ngram_jaccard", got, pairs.columns))
        self.pairs_passing += len(got)
        return sum(r.seconds for r in ops.records[start:])

    def _compare(self, ops, twin, rows, columns):
        """The DuckDB twins cost seconds per shard, so answers are
        compared on the cold shard; every shard is checked for
        conservation and read back."""
        if ops.unit != 0:
            return None
        return self.oracle.compare(twin, rows, columns)

    def finish(self, ops) -> None:
        self.oracle.close()

    def table_versions(self) -> dict[str, int]:
        return {str(k): t.current_version() for k, t in self.tables.items()}

    def live_files(self) -> int:
        return sum(len(t.read().inputFiles()) for t in self.tables.values())
