"""Warm units stay warm: a session sized for its codegen working set
recompiles (almost) nothing on a re-run, a parquet schema is inferred
once per source signature, and the corpus build executes its filter
once."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from databricks_data_warehouse_spark.ext import dedup, text
from databricks_data_warehouse_spark.ext.sampling import split_column
from databricks_data_warehouse_spark.pipelines import corpus
from databricks_data_warehouse_spark.queries import _util
from databricks_data_warehouse_spark.signature import source_signature
from databricks_data_warehouse_spark.sources.tables import ManagedTable
from databricks_data_warehouse_spark.streaming import windows

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (CodegenMetrics)."""
    m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return m.METRIC_COMPILATION_TIME().getCount()


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_codegen_cache_holds_more_than_100_queries(spark):
    # 120 distinct queries: each literal is inlined into its own
    # generated class, so this set overflows Spark's default 100 entries
    queries = [
        spark.range(8).selectExpr(f"id * {i} AS x")
        for i in range(1, 121)
    ]
    first = _compiles(spark)
    for q in queries:
        q.collect()
    assert _compiles(spark) - first >= 120
    before = _compiles(spark)
    for q in queries:
        q.collect()
    assert _compiles(spark) - before == 0


def test_warm_corpus_unit_recompiles_almost_nothing(spark, tmp_path):
    """A corpus unit (build, minhash, text quality) compiles ~110
    classes, more than Spark's default 100-entry codegen cache holds,
    so with that cache every warm unit recompiled ~100 of them. A warm
    unit may still compile a few: the codegen stage id is part of each
    generated class, and AQE numbers stages in the order it re-plans
    them, so a class can come back under a new id."""
    compiles = []
    for i in range(3):
        before = _compiles(spark)
        corpus.build_training_corpus(spark, SF001, str(tmp_path / f"c{i}"))
        dedup.minhash_candidate_pairs(spark, SF001).collect()
        text.text_quality(spark, SF001).collect()
        compiles.append(_compiles(spark) - before)
    assert compiles[2] <= 10, compiles


def _write_docs(path, texts):
    table = pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["web"] * len(texts), pa.string()),
    })
    # plain, uncompressed pages: equal-length texts give equal file sizes
    pq.write_table(table, path, compression="NONE", use_dictionary=False)


def test_second_load_runs_no_job_and_rewrite_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    _write_docs(path, ["a b c", "d e f"])
    df, jobs = _jobs_in(spark, lambda: _util.load(spark, str(tmp_path), "documents"))
    assert jobs >= 1  # the first load of a file pays inference
    df2, jobs = _jobs_in(spark, lambda: _util.load(spark, str(tmp_path), "documents"))
    assert jobs == 0
    assert df2.schema == df.schema
    assert sorted(df2.collect()) == sorted(df.collect())

    # a rewrite with another schema is inferred afresh
    pq.write_table(pa.table({"doc_id": pa.array([7], pa.int64()),
                             "extra": pa.array(["x"], pa.string())}), path)
    df3, jobs = _jobs_in(spark, lambda: _util.load(spark, str(tmp_path), "documents"))
    assert jobs >= 1
    assert df3.columns == ["doc_id", "extra"]
    assert df3.collect()[0]["extra"] == "x"


def test_events_schema_under_nanos_as_long_is_unchanged(spark):
    _util._SCHEMA_MEMO.clear()
    cold = _util.load(spark, SF001, "events")
    warm, jobs = _jobs_in(spark, lambda: _util.load(spark, SF001, "events"))
    assert jobs == 0
    assert warm.schema == cold.schema
    assert dict(warm.dtypes)["ts"] == "timestamp"
    cols = ["ts"] + [c for c in cold.columns if c != "ts"]
    assert (
        warm.select(*cols).orderBy(*cols).limit(50).collect()
        == cold.select(*cols).orderBy(*cols).limit(50).collect()
    )


def test_source_signature_sees_same_size_same_mtime_rewrite(tmp_path):
    path = str(tmp_path / "documents.parquet")
    _write_docs(path, ["alpha beta gamma delta", "omega sigma kappa zeta"])
    st = os.stat(path)
    sig = source_signature(path)
    _write_docs(path, ["alpha beta gamma delta", "alpha beta gamma delta"])
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert source_signature(path) != sig


def test_edge_cache_serves_fresh_edges_after_cp_p_rewrite(spark, tmp_path, monkeypatch):
    scratch = str(tmp_path / "scratch")
    os.makedirs(scratch)
    monkeypatch.setattr(windows, "_scratch_root", lambda: scratch)
    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "documents.parquet")
    base = "one two three four five six seven eight"
    other = "red blue green pink gray gold navy teal"  # same length
    _write_docs(path, [base, other])
    st = os.stat(path)
    assert dedup.ngram_jaccard_pairs_cached(spark, str(sf)).count() == 0

    # rewrite in place keeping size and mtime (what cp -p leaves)
    _write_docs(path, [base, base])
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert (os.stat(path).st_size, os.stat(path).st_mtime_ns) == (
        st.st_size, st.st_mtime_ns)
    rows = dedup.ngram_jaccard_pairs_cached(spark, str(sf)).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]
    assert sum(n.startswith("ngram_pairs_") for n in os.listdir(scratch)) == 2


def _parent_build(spark, sf_dir, location):
    """The two-pass corpus build this change replaced: the kept count
    re-executes the corpus filter after the write."""
    docs = _util.load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    n_docs = docs.count()
    decisions = corpus.corpus_filter(spark, sf_dir)
    kept = docs.join(decisions.where(F.col("keep")).select("doc_id"), "doc_id")
    losers = (
        corpus.near_dup_clusters(spark, sf_dir, threshold=0.3)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    key = F.concat(F.lit("doc|"), F.col("doc_id").cast("string"))
    final = kept.join(losers, "doc_id", "left_anti").withColumn(
        "split", split_column(key, {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    table = ManagedTable(spark, "training_corpus", location, schema=final.schema,
                         partition_columns=["split"])
    table.create_if_not_exists()
    table.overwrite(final)
    n_kept = kept.count()
    n_final = table.read().count()
    return table, {"docs": n_docs, "rejected": n_docs - n_kept,
                   "dup_dropped": n_kept - n_final, "final": n_final}


@pytest.mark.parametrize("sf_dir", [SF001, SF01])
def test_corpus_build_matches_two_pass_build(spark, tmp_path, monkeypatch, sf_dir):
    scratch = str(tmp_path / "scratch")
    os.makedirs(scratch)
    monkeypatch.setattr(windows, "_scratch_root", lambda: scratch)
    ref, ref_counts = _parent_build(spark, sf_dir, str(tmp_path / "ref"))
    assert sum(n.startswith("ngram_pairs_") for n in os.listdir(scratch)) == 1

    # count how many rows the corpus filter's decisions are computed
    # for: one execution touches each document once
    acc = spark.sparkContext.accumulator(0)

    def touch(keep):
        acc.add(1)
        return keep

    counted = F.udf(touch, "boolean")
    real_filter = corpus.corpus_filter
    monkeypatch.setattr(
        corpus, "corpus_filter",
        lambda s, d: real_filter(s, d).withColumn("keep", counted("keep")),
    )
    table, counts = corpus.build_training_corpus(spark, sf_dir, str(tmp_path / "new"))
    assert acc.value == counts["docs"]
    assert counts == ref_counts
    cols = ["doc_id", "lang", "source", "text", "split"]
    assert sorted(table.read().select(*cols).collect()) == sorted(
        ref.read().select(*cols).collect()
    )
    assert len(table.read().inputFiles()) == len(ref.read().inputFiles())
    # the edge table built by the first build is reused, not rebuilt
    assert sum(n.startswith("ngram_pairs_") for n in os.listdir(scratch)) == 1
