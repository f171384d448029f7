"""Metric computation: end-to-end metrics from an untraced run's op
records, per-layer metrics from a traced run's spans and event log."""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import clip, jobs_by_span, mean, percentile, self_time, union_length

MB = 1 << 20

TABLE_READS = ("read", "scan")
TABLE_WRITES = ("merge_insert_only", "merge_upsert", "merge_update",
                "optimize", "vacuum", "overwrite")
PIPELINES = ("bronze_ingest", "validate_to_silver", "recover_dlq", "build_gold",
             "build_training_corpus")
EXT = ("corpus_filter", "near_dup_clusters", "ngram_jaccard_pairs",
       "connected_components", "minhash_candidate_pairs", "text_quality")


def install_wrappers(tracer) -> None:
    """Span every public call the workloads reach, at each place it is
    reachable from (modules that imported it by name included)."""
    from databricks_data_warehouse_spark import pipelines
    from databricks_data_warehouse_spark.ext import dedup, text
    from databricks_data_warehouse_spark.pipelines import bronze, corpus, dlq, gold, silver
    from databricks_data_warehouse_spark.sources.tables import ManagedTable

    for m in TABLE_READS + TABLE_WRITES:
        tracer.wrap(f"tables.{m}", [(ManagedTable, m)], flat=True)
    for mod, fn in ((bronze, "bronze_ingest"), (silver, "validate_to_silver"),
                    (dlq, "recover_dlq"), (gold, "build_gold"),
                    (corpus, "build_training_corpus")):
        tracer.wrap(f"pipelines.{fn}", [(mod, fn), (pipelines, fn)])
    tracer.wrap("ext.corpus_filter", [(text, "corpus_filter"), (corpus, "corpus_filter")])
    tracer.wrap("ext.near_dup_clusters",
                [(dedup, "near_dup_clusters"), (corpus, "near_dup_clusters")])
    # the cached variant is the call that materializes the pair join
    tracer.wrap("ext.ngram_jaccard_pairs", [(dedup, "ngram_jaccard_pairs_cached")])
    tracer.wrap("ext.connected_components", [(dedup, "connected_components")])
    tracer.wrap("ext.minhash_candidate_pairs", [(dedup, "minhash_candidate_pairs")])
    tracer.wrap("ext.text_quality", [(text, "text_quality")])


def kind_medians(records) -> list[float]:
    """Each op kind's median latency: a kind's slow outlier moves only
    its own median, and kinds with many samples weigh no more than rare
    ones."""
    by_name = defaultdict(list)
    for r in records:
        by_name[r.name].append(r.seconds)
    return [statistics.median(v) for v in by_name.values()]


def unit_rates(records, n_units: int) -> list[tuple[float, float]]:
    """(ops/s, input rows/s) of each warm unit, over its op seconds."""
    rates = []
    for u in range(1, n_units):
        recs = [r for r in records if r.unit == u]
        busy = sum(r.seconds for r in recs)
        rates.append((len(recs) / busy, sum(r.rows for r in recs) / busy))
    return rates


def end_to_end(ops, units: list[float], setup_s: float, footprint_bytes: int,
               user_bytes: int, peak_rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the sample counts behind them.

    Unit 0 is the cold pass; every other figure comes from the warm
    units after it. bi_read commits only in set-up, so its write
    sample is the set-up build."""
    warm = [r for r in ops.records if r.unit >= 1]
    reads = [r for r in warm if r.kind == "read"]
    writes = [r for r in warm if r.kind == "write"] or [
        r for r in ops.records if r.unit < 0 and r.kind == "write"
    ]
    rates = unit_rates(ops.records, len(units))
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": units[0],
        # a mean over op kinds of each kind's median: a pooled median
        # would land on whichever kind sits in the middle of the mix
        "read_mean_s": mean(kind_medians(reads)),
        "write_mean_s": mean(kind_medians(writes)),
        "batch_p50_s": statistics.median(units[1:]),
        "ops_per_s": statistics.median(r[0] for r in rates),
        "rows_per_s": statistics.median(r[1] for r in rates),
        "bytes_written_per_user_byte": footprint_bytes / user_bytes,
        "peak_rss_mb": peak_rss_mb,
    }
    samples = {
        "read": (len(reads), percentile([r.seconds for r in reads], 90)),
        "write": (len(writes), percentile([r.seconds for r in writes], 90)),
        "batch": (len(units) - 1, percentile(units[1:], 90)),
    }
    return metrics, samples


def per_layer(tracer, log, ops, wl, cores: int, counts: dict) -> dict:
    """Per-layer metrics of a traced run. Timings are means per call,
    counts are per op or per unit, all over the warm units; a layer the
    workload leaves idle reports 0."""
    jobs, stages, stage_job = log
    spans = tracer.spans
    kids = tracer.children()
    own_jobs = jobs_by_span(jobs)
    rec = {r.sid: r for r in ops.records if r.sid is not None}
    warm_ops = [sid for sid, r in rec.items() if r.unit >= 1]
    warm_set = set(warm_ops)
    warm_spans = [s for s in spans if s.op in warm_set]

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(k.sid for k in kids.get(s, []))
        return out

    def jobs_under(sid):
        return [j for s in subtree(sid) for j in own_jobs.get(s, [])]

    def job_span(j):
        return (j.start, j.end)

    def driver_only(sid):
        s = spans[sid]
        return s.wall - union_length(clip([job_span(j) for j in jobs_under(sid)], s.start, s.end))

    def walls(name):
        return [s.wall for s in warm_spans if s.name == name]

    m = {
        "session.start_s": counts["session_start_s"],
        "gen.inputs_s": counts["gen_inputs_s"],
        "queries.plan_s": mean(walls("queries.plan")),
        "queries.exec_s": mean(walls("queries.exec")),
    }
    q_ops = [sid for sid in warm_ops if rec[sid].name.startswith("queries.")]
    m["queries.jobs_per_op"] = mean(len(jobs_under(s)) for s in q_ops)
    m["queries.driver_only_s"] = mean(driver_only(s) for s in q_ops)
    m["tables.read_s"] = mean(walls("tables.read"))
    m["tables.scan_s"] = mean(walls("tables.scan"))
    kept, total = wl.kept
    m["tables.files_kept_ratio"] = kept / total if total else 0.0
    for meth in TABLE_WRITES:
        m[f"tables.{meth}_s"] = mean(walls(f"tables.{meth}"))
    writes = [s.sid for s in warm_spans if s.name in {f"tables.{w}" for w in TABLE_WRITES}]
    m["tables.driver_only_s"] = mean(driver_only(s) for s in writes)
    n_units = max(1, counts["warm_units"])
    m["tables.commits"] = counts["warm_commits"] / n_units
    m["tables.files_written"] = counts["warm_files"] / n_units
    m["tables.mb_written"] = counts["warm_bytes"] / MB / n_units
    m["tables.live_files"] = counts["live_files"]
    for fn in PIPELINES:
        m[f"pipelines.{fn}_s"] = mean(walls(f"pipelines.{fn}"))
    pipe = [s for s in warm_spans if s.name.startswith("pipelines.")]
    m["pipelines.self_s"] = mean(
        self_time(s, [(k.start, k.end) for k in kids.get(s.sid, [])]
                  + [job_span(j) for j in own_jobs.get(s.sid, [])])
        for s in pipe
    )
    dlq = getattr(wl, "dlq", None)
    m["pipelines.dlq_recovered_ratio"] = (
        dlq["recovered"] / dlq["attempted"] if dlq and dlq["attempted"] else 0.0
    )
    for fn in EXT:
        m[f"ext.{fn}_s"] = mean(walls(f"ext.{fn}"))
    # shuffle records read by the pair join per pair passing, all units
    records = sum(
        stages[st].shuffle_read_records
        for s in spans if s.name == "ext.ngram_jaccard_pairs" and s.op is not None
        for j in jobs_under(s.sid) for st in j.stages
        if st in stages and stage_job.get(st) == j.job_id
    )
    pairs = getattr(wl, "pairs_passing", 0)
    m["ext.join_rows_per_pair"] = records / pairs if pairs else 0.0

    n_ops = max(1, len(warm_ops))
    w_jobs = [j for sid in warm_ops for j in jobs_under(sid)]
    w_stages = [
        stages[st] for j in w_jobs for st in j.stages
        if st in stages and stage_job.get(st) == j.job_id and stages[st].tasks > 0
    ]
    busy = sum(rec[sid].seconds for sid in warm_ops)
    m["spark.jobs"] = len(w_jobs) / n_ops
    m["spark.stages"] = len(w_stages) / n_ops
    m["spark.tasks"] = sum(s.tasks for s in w_stages) / n_ops
    m["spark.task_run_s"] = sum(s.run_s for s in w_stages) / n_ops
    m["spark.task_cpu_s"] = sum(s.cpu_s for s in w_stages) / n_ops
    m["spark.gc_s"] = sum(s.gc_s for s in w_stages) / n_ops
    m["spark.core_util"] = sum(s.run_s for s in w_stages) / (busy * cores) if busy else 0.0
    m["spark.single_task_stage_s"] = sum(
        s.end - s.start for s in w_stages if s.tasks < cores
    ) / n_ops
    m["spark.shuffle_read_mb"] = sum(s.shuffle_read_bytes for s in w_stages) / MB / n_ops
    m["spark.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in w_stages) / MB / n_ops
    m["spark.spill_mb"] = sum(s.spill_bytes for s in w_stages) / MB / n_ops
    # computed as the untraced ops_per_s is: their ratio is the overhead
    m["trace.ops_per_s"] = statistics.median(
        r[0] for r in unit_rates(ops.records, counts["warm_units"] + 1))
    m["host.canary_s"] = counts["canary_s"]
    return m
