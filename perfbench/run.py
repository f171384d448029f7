"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bi_read --seed 1 --seconds 10 --trace 0

Run it from the repository root. Each workload is one client in a
closed loop (no think time) on ``local[<usable cores>]``:

- ``bi_read``        gold/dashboard/TPC-H queries and table lookups;
- ``etl_medallion``  dirty micro-batches through bronze, silver, DLQ, gold;
- ``corpus_prep``    document shards through the training-corpus build.

A run generates its inputs from the seed (three times, the median
counts), prepares its tables once, runs one cold unit (a pass, a batch
or a shard) in the fresh session with an empty scratch root, then
``--seconds`` worth of warm units: ``--seconds`` divided by the
workload's nominal unit time on a 4-core host, at least two, so every
commit measures the same work. Every answer is checked. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics from spans
and the Spark event log (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORK_DIR = ".perfbench_work"
GEN_REPS = 3


def workload_class(name: str):
    if name == "bi_read":
        from bi_read import BiRead
        return BiRead
    if name == "etl_medallion":
        from etl_medallion import EtlMedallion
        return EtlMedallion
    from corpus_prep import CorpusPrep
    return CorpusPrep


def canary_s(spark, cores: int) -> float:
    """A fixed CPU-bound probe sized for local[cores]: host drift shows
    here, apart from code changes."""
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 12_500_000 * cores, 1, 2 * cores).selectExpr("sum(id % 7)").collect()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps[1:])  # rep 0 pays codegen


def run(args, root: str, work: str) -> dict:
    from core import Ops, OpFailed, fresh_dir, start_spark, stop_spark, tree_peak_rss_mb
    from report import end_to_end, install_wrappers, per_layer
    from spans import Tracer, parse_event_log

    marks = [("start", time.perf_counter())]
    cores = len(os.sched_getaffinity(0))
    from databricks_data_warehouse_spark.streaming import windows

    # cold cost on the books: the package scratch root is empty and
    # private to this run
    scratch = fresh_dir(os.path.join(work, "scratch"))
    windows._scratch_root = lambda: scratch
    event_dir = fresh_dir(os.path.join(work, "eventlog")) if args.trace else None

    t0 = time.perf_counter()
    spark = start_spark(work, cores, event_dir)
    session_s = time.perf_counter() - t0
    ops = Ops(None)
    tracer = None
    error = None
    counts = {"session_start_s": session_s}
    wl = workload_class(args.workload)(spark, work, args.seed, root)
    units: list[float] = []
    # a fixed amount of warm work, not a time limit: a faster commit
    # must not run more (and warmer) units than its parent; two at
    # least, so no warm figure rests on a single unit
    n_warm = max(2, round(args.seconds / wl.unit_s))
    try:
        ops.unit = -1
        gen_s = []
        for rep in range(GEN_REPS):
            t0 = time.perf_counter()
            wl.generate(rep, 1 + n_warm)
            gen_s.append(time.perf_counter() - t0)
        # the tables are prepared once: a second build would run warm,
        # which no fresh session's set-up does
        t0 = time.perf_counter()
        wl.prepare(ops)
        setup_s = session_s + statistics.median(gen_s) + time.perf_counter() - t0
        marks.append(("setup", time.perf_counter()))
        counts["gen_inputs_s"] = statistics.median(gen_s)
        wl.after_setup()
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            install_wrappers(tracer)
            ops.tracer = tracer
        # set-up built nothing the timed ops could reuse
        left = os.listdir(scratch)
        ops.check("scratch_empty", f"set-up left {left} in the scratch root" if left else None)

        marks.append(("after_setup", time.perf_counter()))
        ops.unit = 0
        units.append(wl.unit(ops))
        marks.append(("cold", time.perf_counter()))
        v0, f0, b0 = wl.table_versions(), len(wl.footprint.files), wl.footprint.bytes
        for _ in range(n_warm):
            ops.unit += 1
            units.append(wl.unit(ops))
        marks.append(("warm", time.perf_counter()))
        v1 = wl.table_versions()
        counts.update(
            warm_units=len(units) - 1,
            warm_commits=sum(v - v0.get(k, 0) for k, v in v1.items()),
            warm_files=len(wl.footprint.files) - f0,
            warm_bytes=wl.footprint.bytes - b0,
        )
        wl.finish(ops)
        if tracer is not None:
            tracer.unwrap()
            counts["live_files"] = wl.live_files()
        marks.append(("finish", time.perf_counter()))
        counts["peak_rss_mb"] = tree_peak_rss_mb()
        counts["canary_s"] = canary_s(spark, cores)
    except OpFailed as e:
        error = str(e)
    finally:
        marks.append(("canary", time.perf_counter()))
        stop_spark(spark)
        marks.append(("stop", time.perf_counter()))

    result = {"correct": error is None and ops.failed == 0,
              "attempted": max(1, ops.attempted), "failed": ops.failed}
    if error is not None:
        print(f"perfbench: {error}", file=sys.stderr)
        result["metrics"] = {}
        return result
    metrics, samples = end_to_end(ops, units, setup_s, wl.footprint.bytes,
                                  wl.user_bytes, counts["peak_rss_mb"])
    print(f"perfbench: {args.workload} seed={args.seed} units={len(units)} "
          f"canary_s={counts['canary_s']:.4f} samples(n, p90 or None if n too "
          f"small)={samples} phases_s=" + " ".join(
              f"{b[0]}:{b[1] - a[1]:.1f}" for a, b in zip(marks, marks[1:])),
          file=sys.stderr)
    if args.trace:
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        with open(logs[0]) as f:
            log = parse_event_log(f)
        metrics = per_layer(tracer, log, ops, wl, cores, counts)
    # BENCHMARK.json is the one place metric names and units are declared
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bi_read", "etl_medallion", "corpus_prep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    for need in ("BENCHMARK.json", "databricks_data_warehouse_spark/__init__.py",
                 "__spark_entry__.py", "scripts/check_oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
