"""Streaming APPLY CHANGES INTO — DLT's streaming CDC-apply shape:
``readStream`` over the change feed → ``foreachBatch`` →
:func:`..pipelines.cdc.apply_changes`.

The exactly-once story is SEQUENCE-OWNED, not checkpoint-owned: a
replayed micro-batch re-applies changes whose sequence the target has
already stored, and the apply's late-event rule makes every one a
no-op — so checkpoint loss and full re-delivery converge to the same
state with no writer-transaction watermark at all (the same property
the COPY ledger gives the Auto-Loader path). The checkpoint is an
optimization (skip work), never a correctness dependency.

Ordering caveat (inherent to tombstone-less CDC, Delta/DLT share it):
a DELETE overtaken by an older UPSERT for the same key can resurrect
the row, because after the delete no sequence survives to reject the
late upsert. Deliver a key's changes in order (the file source's
mtime order with ``maxFilesPerTrigger=1`` below, or any keyed queue)
and the fixpoint is exact.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..pipelines.cdc import apply_changes, scd1_current
from ..sources.tables import ConcurrentWriteError, ManagedTable


def stream_apply_changes(
    spark: SparkSession,
    source_dir: str,
    target: ManagedTable,
    keys,
    sequence_by: str,
    schema: str,
    apply_as_deletes: str | None = None,
    except_columns=(),
    stored_as_scd_type: int = 1,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Drain parquet change files landing in ``source_dir`` into
    ``target`` through the CDC apply. ``schema`` is the change-row
    DDL string (streaming file sources need it declared). One file
    per trigger by default, so a file is a batch — the common CDC
    landing contract (one extract per file, in order)."""
    if checkpoint_dir is None:
        import tempfile

        checkpoint_dir = os.path.join(
            tempfile.gettempdir(), f"cdc_ckpt_{uuid.uuid4().hex[:8]}"
        )
    applied = {"batches": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for attempt in (1, 2):
            try:
                apply_changes(
                    target,
                    batch_df,
                    keys,
                    sequence_by,
                    apply_as_deletes=apply_as_deletes,
                    except_columns=except_columns,
                    stored_as_scd_type=stored_as_scd_type,
                )
                applied["batches"] += 1
                return
            except ConcurrentWriteError:
                if attempt == 2:
                    raise
                # racing writer took the version — the re-apply is
                # sequence-guarded, so retrying is always safe

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    writer = reader.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "CDC availableNow drain did not finish within 300s"
            )
        return applied
    return writer.start()


# ------------------------------------------------- oracle entry

_CDC_SCHEMA = "k long, price double, seq long, op string"


def _land_cdc_files(spark: SparkSession, sf_dir: str, land_dir: str) -> None:
    """The three deterministic CDC batches written as one parquet file
    each, mtime-ordered so the file source delivers them in sequence."""
    import glob
    import time

    from ..pipelines.cdc import _cdc_batches

    for i, b in enumerate(_cdc_batches(spark, sf_dir), start=1):
        d = os.path.join(land_dir, f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(land_dir, f"batch_{i}.parquet")
        os.replace(part, dst)
        import shutil

        shutil.rmtree(d, ignore_errors=True)
        t = time.time() - 300 + i * 10
        os.utime(dst, (t, t))


def stream_apply_changes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply drained TWICE — the second drain from a
    fresh checkpoint re-delivers every batch, and the sequence-guarded
    apply must no-op all of them (exactly-once WITHOUT a transaction
    watermark). Final state ≡ the batch SCD1 fixpoint, so the oracle
    is shared with ``table_apply_changes_scd1``."""
    from pyspark.sql import functions as F

    from ..queries._util import cents
    from ..scratch import inputs, scratch_table, scratch_tmp

    def drain(t, land, ckpt):
        stream_apply_changes(
            spark, land, t, ["k"], "seq", _CDC_SCHEMA,
            apply_as_deletes="op = 'delete'", except_columns=["op"],
            checkpoint_dir=ckpt,
        )

    def build(t):
        with scratch_tmp("cdcstream-work") as work:
            land = os.path.join(work, "land")
            os.makedirs(land)
            _land_cdc_files(spark, sf_dir, land)
            drain(t, land, os.path.join(work, "ckpt_a"))
            # second drain: FRESH checkpoint → total re-delivery; the
            # sequence rule must make every batch a no-op
            v = t.current_version()
            drain(t, land, os.path.join(work, "ckpt_b"))
            assert t.current_version() == v, (
                "re-delivered CDC batches were not no-ops"
            )

    t = scratch_table(
        spark, "cdcstream_tbl", inputs(sf_dir, "orders"), None, build,
        name="cdcs",
    )
    return (
        scd1_current(t)
        .groupBy((F.col("k") % 7).alias("grp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("price"))).alias("total_cents"),
            F.sum("seq").alias("sum_seq"),
        )
        .orderBy("grp")
    )


def stream_apply_changes_oracle() -> str:
    from ..pipelines.cdc import table_apply_changes_scd1_oracle

    return table_apply_changes_scd1_oracle()
