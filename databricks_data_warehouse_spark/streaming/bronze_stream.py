"""Streaming bronze ingestion: a file stream drained into a ManagedTable
via ``foreachBatch`` + idempotent MERGE.

SURVEY.md §1.1: the reference's bronze stage (append-new-rows-only with
an all-column match) is exactly ``availableNow`` streaming semantics —
this module makes that literal. Each micro-batch runs the same
``merge_insert_only`` the batch pipeline uses, so restarts and overlaps
are idempotent BY THE MERGE, not by checkpoint bookkeeping alone
(checkpoints still bound re-reads; the merge guarantees correctness
even if a batch replays).

At scale the source becomes a cloud landing bucket or Kafka and the
trigger a processing-time cadence; the sink-side code is unchanged.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import inputs, scratch_dir, scratch_table, scratch_tmp
from ..sources.tables import ManagedTable


def stream_bronze_ingest(
    spark: SparkSession,
    source_dir: str,
    table: ManagedTable,
    checkpoint_dir: str | None = None,
    merge_schema: bool = False,
) -> ManagedTable:
    """Drain ``source_dir`` (parquet files) into ``table`` with one
    idempotent merge per micro-batch; returns after the availableNow
    drain completes.

    ``merge_schema=True`` is the schema-on-read drift path: the stream
    schema is inferred across ALL files (``mergeSchema``), and each
    micro-batch merge evolves the table schema (new columns appended,
    old rows null-filled) — so a restarted stream whose landing files
    grew a column keeps ingesting, the realistic Bronze drift case.
    A file stream's schema is pinned at start; drift between restarts
    (not within a run) is what this covers, matching how Delta's
    autoMerge handles it."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    schema = reader.parquet(source_dir).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(
            tempfile.gettempdir(), f"bronze_ckpt_{uuid.uuid4().hex[:8]}"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not table.exists():
            table.create_if_not_exists(batch_df.schema)
        table.merge_insert_only(batch_df, merge_schema=merge_schema)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table


def stream_events_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable streaming ingestion: the ``events`` stream drained
    through ``foreachBatch`` + keyed ``merge_insert_only`` into a
    ManagedTable, then read back — the MERGE-maintained-table parity the
    reference's Bronze stage has in batch form
    (Bronze-Ingestion-Customers.py:51-58), now fed by a stream.

    Every call uses a FRESH checkpoint, so the whole source replays each
    time and the table still holds exactly one copy of every event: the
    exactly-once guarantee comes from the merge (anti-join on
    ``event_id``), not from checkpoint bookkeeping. The table location
    is a scratch fixture keyed on the source, so a regenerated source
    gets a fresh table rather than merging into stale rows; the build
    is the first drain. The drained table IS the events table —
    hash-checkable against ``SELECT * FROM events``.

    Write hygiene (BENCH_r05 "What's wrong 2"): the table is
    PARTITIONED by event_type, so a micro-batch rewrites only the
    partitions it touches; a replayed batch whose anti-join inserts
    nothing commits nothing at all (merge_insert_only's no-op
    short-circuit); and ``retain_versions=2`` vacuums superseded
    versions on commit, so neither versions nor dead files accumulate
    across batches or re-runs — a re-drain of an already-ingested
    source costs one anti-join probe, not O(table) rewrites.
    """
    from .windows import _stream_events

    def drain(table):
        events = _stream_events(spark, sf_dir)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if not table.exists():
                table.create_if_not_exists(batch_df.schema)
            table.merge_insert_only(batch_df, match_columns=["event_id"])

        with scratch_tmp("stream-tbl-ckpt") as ckpt:
            q = (
                events.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # the layout is part of the key: a layout change gets a fresh
    # table instead of merging partitioned writes into an
    # unpartitioned manifest
    table = scratch_table(
        spark, "stream_tbl", inputs(sf_dir, "events"),
        "pby=event_type,rv=2", drain,
        partition_columns=["event_type"], retain_versions=2,
    )
    drain(table)
    return table.read()


_GOLD_APP_ID = "stream_gold_counts"


def _chunked_events_dir(spark: SparkSession, sf_dir: str, chunks: int = 2) -> str:
    """Stage the events table as ``chunks`` separate parquet files with
    ascending mtimes, so an availableNow drain with
    ``maxFilesPerTrigger=1`` processes a DETERMINISTIC multi-batch
    sequence — the shape a real incremental landing zone has, which a
    single-file source (one giant batch) would never exercise. A
    scratch fixture keyed on the source; ts is pre-converted to a
    micros timestamp so the stream schema needs no nanos handling."""
    import shutil

    from ..queries._util import load

    def build(d):
        events = load(spark, sf_dir, "events")
        for i in range(chunks):
            part = events.filter(
                F.pmod(F.abs(F.hash("event_id")), F.lit(chunks)) == i
            )
            tmp = os.path.join(d, f"_tmp_{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src_file = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            dst = os.path.join(d, f"chunk_{i}.parquet")
            os.replace(os.path.join(tmp, src_file), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            # ascending mtimes pin the file-stream batch order
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    return scratch_dir(
        "gold_src", inputs(sf_dir, "events"), {"chunks": chunks}, build
    )


def stream_gold_aggregate(
    spark: SparkSession,
    source_dir: str,
    table: ManagedTable,
    checkpoint_dir: str,
) -> ManagedTable:
    """Streaming GOLD: maintain a per-(event_type, day) running
    aggregate table from a micro-batched event stream — the reference's
    Gold merge pattern (Gold-Orders-By-City.py:69-81) fed incrementally.

    Each micro-batch is aggregated to per-key DELTAS (count + exact
    integer-cents sum), added to the current table values, and
    merge_upserted with ``txn=(app_id, batch_id)``. The txn watermark
    commits ATOMICALLY with the data (Delta txnAppId parity), so a
    replayed batch — crash between checkpoint write and sink commit,
    or a full re-drain from a fresh checkpoint — is detected by
    ``last_txn`` and skipped instead of double-added. Anti-join merges
    are self-idempotent; ADDITIVE state needs exactly this watermark.

    Scale: the shuffled data per batch is one row per touched key
    (map-side partial aggregation), the join-back reads only the
    current aggregate table (keys-sized, not events-sized), and the
    table rewrite is aggregate-sized. Batch cost is O(batch + keys),
    independent of total events ingested."""
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if table.exists() and table.last_txn(_GOLD_APP_ID) >= batch_id:
            return  # replayed batch: already committed, skip
        delta = (
            batch_df.groupBy(
                F.col("event_type"), F.to_date("ts").alias("day")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).alias("value_cents"),
            )
        )
        if not table.exists():
            table.create_if_not_exists(delta.schema)
        current = table.read().select(
            F.col("event_type"),
            F.col("day"),
            F.col("n_events").alias("old_n"),
            F.col("value_cents").alias("old_cents"),
        )
        combined = (
            delta.join(current, on=["event_type", "day"], how="left")
            .select(
                "event_type",
                "day",
                (F.col("n_events") + F.coalesce(F.col("old_n"), F.lit(0))).alias(
                    "n_events"
                ),
                (
                    F.col("value_cents")
                    + F.coalesce(F.col("old_cents"), F.lit(0))
                ).alias("value_cents"),
            )
        )
        table.merge_upsert(
            combined, key_columns=["event_type", "day"],
            txn=(_GOLD_APP_ID, batch_id),
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table


def stream_gold_counts_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable incremental Gold: the events stream drained in
    ≥2 deterministic micro-batches through :func:`stream_gold_aggregate`,
    then the aggregate table read back. Hash-equal to the batch SQL
    GROUP BY over the whole events table — additive merging across any
    batch boundary reconstructs the global aggregate exactly (integer
    cents, no float accumulation). A re-run replays every batch against
    the cached table and the txn watermarks skip them all: the rerun
    costs O(probe), and the values cannot drift."""
    src_dir = _chunked_events_dir(spark, sf_dir, chunks=2)

    def drain(table):
        with scratch_tmp("gold-tbl-ckpt") as ckpt:
            stream_gold_aggregate(spark, src_dir, table, ckpt)

    table = scratch_table(
        spark, "gold_tbl", [src_dir], "gold_v1", drain, retain_versions=2
    )
    drain(table)
    return table.read().select(
        "event_type",
        # date→timestamp for the cross-engine compare (house convention:
        # the oracle side emits TIMESTAMP_NS)
        F.col("day").cast("timestamp").alias("day"),
        "n_events",
        (F.col("value_cents") / 100).alias("total_value"),
    )
