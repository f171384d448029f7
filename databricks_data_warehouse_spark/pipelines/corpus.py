"""Training-corpus build pipeline: the LLM-data twin of the medallion
flow — one composition that takes raw ``documents`` to a
ready-to-train corpus table:

1. **quality gate** — ``ext.text.corpus_filter`` keep/drop with reasons;
2. **near-dup resolution** — ``ext.dedup.near_dup_clusters``: only the
   canonical survivor of each near-dup cluster is kept (singletons pass
   untouched);
3. **split assignment** — the deterministic hash split
   (``ext.sampling.split_column``), so train/val/test membership is a
   pure function of doc_id;
4. **persist** — ManagedTable partitioned by ``split`` (one output pass,
   each split is its own partition tree for downstream readers), with a
   conservation assert: rejected + deduped + the read-back row count of
   the committed table == corpus size.

Stages 1-2 meet in one cached per-document flag relation
``(doc_id, keep, dup)``: the audit counts and the written rows both
read it, so the corpus filter executes once per build.

Scale notes: stages 1-3 are narrow or key-shuffled only (no all-pairs
anywhere — the cluster stage inherits the blocked inverted-index join);
the single wide write is ``partitionBy(split)``. Re-running on the same
input is idempotent (pure functions of content + doc_id ⇒ identical
table version content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext.dedup import near_dup_clusters
from ..ext.sampling import split_column
from ..ext.text import corpus_filter
from ..queries._util import load
from ..sources.tables import ManagedTable


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    table_location: str,
    *,
    dedup_threshold: float = 0.3,
) -> tuple[ManagedTable, dict[str, int]]:
    """Run the full corpus build; returns the table and audit counts."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    decisions = corpus_filter(spark, sf_dir).select("doc_id", "keep")
    # non-canonical members of near-dup clusters drop out
    losers = (
        near_dup_clusters(spark, sf_dir, threshold=dedup_threshold)
        .where(~F.col("is_canonical"))
        .select("doc_id", F.lit(True).alias("dup"))
    )
    flags = (
        docs.select("doc_id")
        .join(decisions, "doc_id", "left")
        .join(losers, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("keep", F.lit(False)).alias("keep"),
            F.coalesce("dup", F.lit(False)).alias("dup"),
        )
        .cache()
    )
    try:
        survives = F.col("keep") & ~F.col("dup")
        tally = flags.agg(
            F.count("*").alias("docs"),
            F.count_if("keep").alias("kept"),
            F.count_if(survives).alias("final"),
        ).first()
        key = F.concat(F.lit("doc|"), F.col("doc_id").cast("string"))
        final = docs.join(flags.where(survives).select("doc_id"), "doc_id").withColumn(
            "split", split_column(key, {"train": 0.8, "val": 0.1, "test": 0.1})
        )

        table = ManagedTable(
            spark,
            "training_corpus",
            table_location,
            schema=final.schema,
            partition_columns=["split"],
        )
        table.create_if_not_exists()
        table.overwrite(final)
    finally:
        flags.unpersist()

    n_docs = tally["docs"]
    n_rejected = n_docs - tally["kept"]
    n_dup_dropped = tally["kept"] - tally["final"]
    # read back: the committed table must hold exactly the survivors
    n_final = table.read().count()
    if n_rejected + n_dup_dropped + n_final != n_docs:
        raise AssertionError(
            f"corpus conservation violated: {n_rejected} rejected + "
            f"{n_dup_dropped} deduped + {n_final} final != {n_docs} docs"
        )
    return table, {
        "docs": n_docs,
        "rejected": n_rejected,
        "dup_dropped": n_dup_dropped,
        "final": n_final,
    }
