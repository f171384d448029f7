"""Streaming window aggregations over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.K — grep-verified
absence of readStream/writeStream); this module is the additive
extension: event-time windows + watermark over ``events.ts``, run with
the ``availableNow`` trigger so a bounded parquet source drains in one
pass and the result materializes to a memory sink (``complete`` output
mode for the windowed aggs: with ``append`` the final windows would
stay unemitted because the watermark never advances past end-of-data). On historical
(bounded) data the results are deterministic and equal to the batch
formulation, which is exactly what lets the DuckDB oracle hash-check a
*streaming* pipeline.

Operators:
- tumbling 1-hour windows (twin of ext/json_ops.events_hourly_windows);
- sliding 1-hour windows every 30 minutes (each event lands in 2);
- session windows with a 30-minute gap (stateful merge inside Spark);
- a custom stateful per-user running count via
  ``applyInPandasWithState`` — the escape hatch for semantics the
  built-in windows can't express.

Scale notes: watermarks bound the window state store; the shuffle keys
are (window, event_type) / user_id — the same partitioning a continuous
deployment would use. Swap the parquet source for Kafka and the memory
sink for a Delta/parquet sink and the pipeline is production-shaped.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..queries._util import cents, read_parquet
from ..scratch import inputs, scratch_dir

_sink_ids = itertools.count()


def _scratch_root() -> str:
    """RAM-backed scratch (/dev/shm) when available, tempdir otherwise.

    Used for stream staging AND checkpoints. For this harness's bounded
    availableNow drains, checkpoint durability buys nothing — the query
    either completes or re-runs from an empty sink — so keeping the
    state-store deltas/WAL off spinning storage is free speed. A real
    deployment points checkpointLocation at durable object storage
    instead (exactly-once recovery needs it); only this scratch root
    changes, not the operator code.
    """
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "ddws_scratch")
    return os.path.join(tempfile.gettempdir(), "ddws_scratch")


def _stream_source_dir(sf_dir: str, name: str) -> str:
    """A directory the file stream source can list for the
    ``<name>.parquet`` table, which the testdata ships either as a
    single file or as a Spark-written directory of part files: FLAT
    symlinks (copies where symlinks are unavailable) to every data
    file, a stand-in for the landing directory a production deployment
    would stream from. Flat matters: symlinking a *directory* puts the
    part files one level down, where the file stream source's listing
    never looks, and the stream silently reads 0 rows. It is a scratch
    fixture keyed on the source, so a regenerated source gets a fresh
    directory."""
    [src] = inputs(os.path.abspath(sf_dir), name)

    def build(d):
        if os.path.isdir(src):
            files = [
                os.path.join(src, n)
                for n in os.listdir(src)
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            ]
        else:
            files = [src]
        for f in files:
            dst = os.path.join(d, os.path.basename(f))
            try:
                os.symlink(f, dst)
            except OSError:
                shutil.copy2(f, dst)

    return scratch_dir(f"stream_{name}", [src], None, build)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a bounded stream; nanos-long ts converted exactly as the
    batch loader does (queries/_util.load)."""
    source_dir = _stream_source_dir(sf_dir, "events")
    # runtime-set for bare (driver-built) sessions — see queries/_util.load
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # micro-precision parquet from another engine: watermarking
        # requires TIMESTAMP; instant-preserving under the UTC session tz
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(
    df: DataFrame,
    output_mode: str = "append",
    state_partitions: int | None = None,
    expect_single_batch: bool = False,
) -> DataFrame:
    """Drain the bounded stream with availableNow into a memory sink and
    return the materialized result as a batch DataFrame.

    ``state_partitions``: stateful operators allocate one state store
    per shuffle partition; for a small keyspace the per-store setup cost
    dominates, so callers with few keys pass a small number (the session
    shuffle setting is restored afterwards).

    ``expect_single_batch``: operators whose batch-oracle equivalence
    relies on ALL input arriving in one micro-batch (arrival-order
    stateful accumulation sorted only within a batch, e.g.
    stream_expanding_zscore) pass True; the drain then FAILS LOUDLY if
    the source split the data across multiple non-empty batches (e.g.
    someone sets maxFilesPerTrigger), instead of silently returning
    order-dependent results the oracle would flag (ADVICE r05).
    """
    spark = df.sparkSession
    name = f"stream_sink_{next(_sink_ids)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # RAM-backed checkpoint (see _scratch_root): the bounded drain never
    # restarts, so WAL + state-store deltas need no durability here
    ckpt = os.path.join(_scratch_root(), "ckpt", name)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if expect_single_batch:
            fed = [
                p
                for p in q.recentProgress
                if (p.get("numInputRows") or 0) > 0
            ]
            if len(fed) > 1:
                raise RuntimeError(
                    f"{name}: input split across {len(fed)} micro-batches; "
                    "this operator's batch-oracle equivalence requires a "
                    "single-batch drain (unset maxFilesPerTrigger or emit "
                    "in global key order)"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def stream_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type with a 2-hour
    watermark; identical semantics to the batch twin
    (ext/json_ops.events_hourly_windows) — same oracle."""
    events = _stream_events(spark, sf_dir).select("ts", "event_type", "value")
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            (F.sum(cents(F.col("value"))) / 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "sum_value",
        )
    )
    # small keyspace (windows x event_type / users): 8 state stores,
    # not 32 - per-store setup dominates at this cardinality
    return _run_to_memory(agg, "complete", state_partitions=8)


def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes per event_type — each
    event contributes to exactly two windows."""
    events = _stream_events(spark, sf_dir).select("ts", "event_type")
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
        )
    )
    # small keyspace (windows x event_type / users): 8 state stores,
    # not 32 - per-store setup dominates at this cardinality
    return _run_to_memory(agg, "complete", state_partitions=8)


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap: the
    stateful merge Spark maintains in the state store. Session end =
    last event + gap (F.session_window semantics)."""
    events = _stream_events(spark, sf_dir).select("user_id", "ts")
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_count",
        )
    )
    # small keyspace (windows x event_type / users): 8 state stores,
    # not 32 - per-store setup dominates at this cardinality
    return _run_to_memory(agg, "complete", state_partitions=8)


_STATE_SCHEMA = StructType([StructField("count", LongType(), True)])
_RUNNING_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("events_seen", LongType(), True),
        StructField("last_ts", TimestampType(), True),
    ]
)


def _update_running_count(key, pdf_iter, state: GroupState):
    """Custom stateful operator: total events per user, surviving across
    micro-batches via the state store."""
    (user_id,) = key
    count = state.get[0] if state.exists else 0
    last_ts = None
    for pdf in pdf_iter:
        count += len(pdf)
        batch_max = pdf["ts"].max()
        if last_ts is None or batch_max > last_ts:
            last_ts = batch_max
    state.update((count,))
    yield pd.DataFrame(
        {"user_id": [user_id], "events_seen": [count], "last_ts": [last_ts]}
    )


def stream_user_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState demo: per-user running event counts — the
    custom-stateful-operator escape hatch (arbitrary state, Arrow-batch
    transfer; the state store shuffles by user_id only)."""
    events = _stream_events(spark, sf_dir).select("user_id", "ts")
    counted = (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_running_count,
            outputStructType=_RUNNING_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # ~150 user keys: 8 state stores instead of 32
    return _run_to_memory(counted, "append", state_partitions=8)


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication under at-least-once delivery: every event
    arrives TWICE (each source row exploded into two copies — the
    standard redelivery failure mode), and
    ``dropDuplicatesWithinWatermark`` on ``event_id`` keeps exactly one
    copy using watermark-bounded state.

    Why ``...WithinWatermark`` and not plain ``dropDuplicates``: the
    plain form must keep EVERY key ever seen in the state store —
    unbounded growth on an endless stream. The watermarked form expires
    a key's state once the watermark passes it: state is bounded by the
    redelivery horizon (here 2 hours), which is the only form that
    survives at 100 TB/day.

    The drained output is the distinct event set — exactly the
    ``events`` table — so the streaming pipeline is oracle-checkable.
    """
    events = _stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    redelivered = events.select(
        F.explode(F.array(F.lit(1), F.lit(2))).alias("_copy"), "*"
    ).drop("_copy")
    deduped = (
        redelivered.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return _run_to_memory(deduped, "append", state_partitions=8)


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each click is joined to the same
    user's purchases landing within the following hour — the canonical
    funnel/attribution shape, and the one streaming operator class the
    other entries don't cover (two UNBOUNDED sides, neither static).

    Both sides carry a watermark and the join condition bounds
    ``purchase_ts`` to ``[click_ts, click_ts + 1h]`` — together these
    let Spark expire buffered rows: a click older than
    watermark - 1 hour can never match a future purchase, so join state
    is bounded by (watermark delay + interval), not by stream length.
    That state bound is the whole design at 100 TB/day; without the
    time-range predicate Spark must buffer every row forever (and says
    so in the analyzer error for unbounded stream-stream joins).

    Inner join only: matched pairs emit immediately (append mode), so a
    bounded drain yields exactly the batch self-join — hash-checkable.
    An OUTER variant would hold unmatched rows until the watermark
    passes them, and availableNow ends before the final watermark
    advance, silently dropping the last window's nulls — a
    correctness trap documented here rather than shipped.

    Scale notes: both sides shuffle on ``user_id`` (the equi-key); the
    range predicate is evaluated inside the symmetric hash join, not as
    a post-filter on a cross product.
    """
    events = _stream_events(spark, sf_dir)
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    # a stream-stream join allocates FOUR state-store instances per
    # shuffle partition (left/right × keyToNumValues/keyWithIndexToValue),
    # so its per-store setup cost is 4× the aggregation entries'; at this
    # keyspace (~150 user keys) 4 partitions = 16 stores already
    # dominates setup (A/B at sf0.1: 2.63 → 1.94 s min, same 371 rows).
    # The knob is per-operator and keyspace-derived — a real deployment
    # raises it with key cardinality exactly like the 8s above.
    return _run_to_memory(joined, "append", state_partitions=4)


def stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream is enriched against the
    static ``customer`` dimension (broadcast — re-read per micro-batch
    by Spark, which is what keeps a slowly-changing dim fresh in a
    continuous deployment), then aggregated per (event_type, segment).

    Scale notes: the static side is a broadcast hash join per batch —
    no stream-side shuffle for the join; the aggregation shuffles on
    the (event_type, segment) key space only. Money sums are exact
    integer cents, so the drained result hash-matches the batch SQL
    twin.
    """
    from ..queries._util import load

    events = _stream_events(spark, sf_dir).select("user_id", "event_type", "value")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey
    )
    agg = (
        enriched.groupBy("event_type", "c_mktsegment")
        .agg(
            F.count("*").alias("event_count"),
            (F.sum(cents(F.col("value"))) / 100).alias("sum_value"),
        )
    )
    return _run_to_memory(agg, "complete", state_partitions=8)


_ZSTATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), True),
        StructField("s", LongType(), True),
        StructField("ss", LongType(), True),
    ]
)
_ZOUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("z_score", DoubleType(), True),
        StructField("is_anomaly", BooleanType(), True),
    ]
)


def _update_expanding_z(key, pdf_iter, state: GroupState):
    """Expanding per-type anomaly scoring: each event is z-scored against
    the EXACT mean/std of every prior event of its type, carried across
    micro-batches as three integers (count, Σcents, Σcents²) in the
    state store. All arithmetic is int64 sums → IEEE doubles, so the
    drained result is bit-identical to the batch SQL expanding window.
    """
    import numpy as np

    (etype,) = key
    n0, s0, ss0 = state.get if state.exists else (0, 0, 0)
    pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    c = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    cum_n = n0 + np.arange(len(c), dtype=np.int64)
    cum_s = s0 + np.concatenate(([0], np.cumsum(c)[:-1]))
    cum_ss = ss0 + np.concatenate(([0], np.cumsum(c * c)[:-1]))
    state.update((int(n0 + len(c)), int(s0 + c.sum()), int(ss0 + (c * c).sum())))
    keep = cum_n >= 20
    if not keep.any():
        return
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = cum_s / cum_n
        std = np.sqrt(np.maximum(cum_ss / cum_n - mean * mean, 0.0))
        z = (c - mean) / std
    out = pdf.loc[keep, ["event_id", "value"]].copy()
    zk, stdk = z[keep], std[keep]
    # std == 0 → no basis for a z: emit SQL NULL (NaN would survive the
    # Arrow transfer as NaN, not null, and diverge from the oracle)
    out["event_type"] = etype
    out["z_score"] = [
        None if sd == 0.0 else float(np.floor(v * 10000 + 0.5) / 10000)
        for v, sd in zip(zk, stdk)
    ]
    out["is_anomaly"] = [
        None if sd == 0.0 else bool(abs(v) > 3.0) for v, sd in zip(zk, stdk)
    ]
    yield out[["event_id", "event_type", "value", "z_score", "is_anomaly"]]


def stream_expanding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection as a custom stateful operator: the
    expanding-window twin of the batch ``events_anomaly_zscore`` (which
    uses a bounded 100-row lookback). Per event type, three integers of
    state — count, Σcents, Σcents² — score every incoming event against
    ALL prior events of its type and survive across micro-batches; on a
    bounded drain the output equals the batch expanding-frame SQL, so a
    custom ``applyInPandasWithState`` operator gets a full value-hash
    oracle (stream_user_running_counts, the other custom-stateful entry,
    only proves final counts).

    Scale notes: state is O(1) per key regardless of stream length —
    the textbook sufficient-statistics pattern; shuffle keys on
    event_type only (at 100 TB/day, widen the key to (event_type,
    shard) and merge shard stats downstream if one type dominates).
    """
    events = _stream_events(spark, sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    scored = (
        events.withWatermark("ts", "2 hours")
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_expanding_z,
            outputStructType=_ZOUT_SCHEMA,
            stateStructType=_ZSTATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # handful of event-type keys: 8 state stores, not 32; the expanding
    # state is accumulated in arrival order (sorted per batch), so the
    # batch-oracle equivalence requires the whole drain in ONE
    # micro-batch — enforced, not assumed
    return _run_to_memory(
        scored, "append", state_partitions=8, expect_single_batch=True
    )


def stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLT expectations on a STREAMING frame (VERDICT r10 item 7):
    ``with_expectations`` attaches the per-rule violation counters as
    observed metrics — computed per micro-batch by the SAME job that
    feeds the sink — and drop-filters the frame. The availableNow
    drain's observedMetrics, summed across micro-batches, must equal
    the batch totals, and the memory sink's row count proves the drop
    enforcement. Result rows: per-rule
    (rule, action, violations, rows_observed, rows_kept) — the
    metrics AND the enforcement are both inside the oracle hash."""
    from ..pipelines.expectations import (
        expect,
        expect_or_drop,
        with_expectations,
    )

    exps = [
        expect("value_over_300", "value > 300"),
        expect_or_drop("not_error", "event_type <> 'error'"),
        expect_or_drop("value_under_450", "value < 450"),
    ]
    events = _stream_events(spark, sf_dir).select("event_type", "value")
    out = with_expectations(events, exps)
    name = f"stream_sink_{next(_sink_ids)}"
    ckpt = os.path.join(_scratch_root(), "ckpt", name)
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals = {e.name: 0 for e in exps}
        rows_observed = 0
        for p in q.recentProgress:
            m = (p.observedMetrics or {}).get("expectations")
            if m is None:
                continue
            for e in exps:
                totals[e.name] += int(m[e.name] or 0)
            rows_observed += int(m["__rows_observed"] or 0)
        rows_kept = spark.table(name).count()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = [
        (e.name, e.action, totals[e.name], rows_observed, rows_kept)
        for e in exps
    ]
    return spark.createDataFrame(
        rows,
        "rule string, action string, violations long, "
        "rows_observed long, rows_kept long",
    ).orderBy("rule")


def stream_expectations_oracle() -> str:
    return """
        WITH counts AS (
            SELECT
                COUNT(*) AS rows_observed,
                SUM(CASE WHEN NOT COALESCE(value > 300, FALSE)
                    THEN 1 ELSE 0 END) AS v_over,
                SUM(CASE WHEN NOT COALESCE(event_type <> 'error', FALSE)
                    THEN 1 ELSE 0 END) AS v_err,
                SUM(CASE WHEN NOT COALESCE(value < 450, FALSE)
                    THEN 1 ELSE 0 END) AS v_under,
                SUM(CASE WHEN COALESCE(event_type <> 'error', FALSE)
                         AND COALESCE(value < 450, FALSE)
                    THEN 1 ELSE 0 END) AS rows_kept
            FROM events
        )
        SELECT r.rule, r.action,
               CAST(CASE r.rule
                      WHEN 'value_over_300' THEN v_over
                      WHEN 'not_error' THEN v_err
                      ELSE v_under
                    END AS BIGINT) AS violations,
               CAST(rows_observed AS BIGINT) AS rows_observed,
               CAST(rows_kept AS BIGINT) AS rows_kept
        FROM counts, (
            VALUES ('value_over_300', 'warn'),
                   ('not_error', 'drop'),
                   ('value_under_450', 'drop')
        ) AS r(rule, action)
        ORDER BY r.rule
    """
