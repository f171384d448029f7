"""The scratch-fixture contract: a fixture is keyed on every source its
build reads, published with one rename, and never served half-built."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from databricks_data_warehouse_spark import scratch
from databricks_data_warehouse_spark.ext.bpe import _merge_table, train_bpe
from databricks_data_warehouse_spark.ext.dedup_incremental import _scratch_index
from databricks_data_warehouse_spark.streaming import windows


@pytest.fixture
def root(tmp_path, monkeypatch):
    """A private, empty scratch root."""
    d = str(tmp_path / "scratch")
    os.makedirs(d)
    monkeypatch.setattr(windows, "_scratch_root", lambda: d)
    return d


def _write(path, texts):
    table = pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": pa.array(texts, pa.string()),
    })
    # plain, uncompressed pages: equal-length texts give equal file sizes
    pq.write_table(table, path, compression="NONE", use_dictionary=False)


def _same_size_same_mtime_rewrite(path, texts):
    st = os.stat(path)
    _write(path, texts)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert (os.stat(path).st_size, os.stat(path).st_mtime_ns) == (
        st.st_size, st.st_mtime_ns)


def test_failed_build_publishes_nothing_and_next_call_rebuilds(root, tmp_path):
    src = str(tmp_path / "src.parquet")
    _write(src, ["a b c"])

    def broken(d):
        with open(os.path.join(d, "half"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        scratch.scratch_dir("k", [src], None, broken)
    assert os.listdir(root) == []

    def build(d):
        with open(os.path.join(d, "whole"), "w") as f:
            f.write("x")

    d = scratch.scratch_dir("k", [src], None, build)
    assert os.listdir(root) == [os.path.basename(d)]
    assert os.listdir(d) == ["whole"]


def test_lost_publish_returns_winner_and_removes_staging(spark, root, tmp_path):
    src = str(tmp_path / "src.parquet")
    _write(src, ["a b c"])

    def publish(k):
        return scratch.scratch_table(
            spark, "t", [src], None,
            lambda t: t.overwrite(spark.createDataFrame([(k,)], "k long")),
        )

    def loser(t):
        t.overwrite(spark.createDataFrame([(1,)], "k long"))
        publish(2)  # a concurrent builder publishes first

    table = scratch.scratch_table(spark, "t", [src], None, loser)
    assert [r.k for r in table.read().collect()] == [2]
    assert os.listdir(root) == [os.path.basename(table.location)]


def test_same_size_same_mtime_rewrite_of_a_source_gets_a_new_key(root, tmp_path):
    src = str(tmp_path / "src.parquet")
    _write(src, ["one two three", "red six green"])
    builds = []
    d1 = scratch.scratch_dir("k", [src], None, builds.append)
    assert scratch.scratch_dir("k", [src], None, builds.append) == d1
    _same_size_same_mtime_rewrite(src, ["one two three", "one two three"])
    d2 = scratch.scratch_dir("k", [src], None, builds.append)
    assert d2 != d1 and len(builds) == 2


def test_rewriting_documents_rebuilds_bpe_merges_and_band_index(
    spark, root, tmp_path
):
    """Both fixtures read documents, not orders: a rewrite of
    documents alone must not serve the tables built from the old
    corpus."""
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}),
        str(sf / "orders.parquet"),
    )
    docs = str(sf / "documents.parquet")
    _write(docs, [f"alpha beta gamma doc{i}" for i in range(8)])
    merges = _merge_table(spark, str(sf))
    index = _scratch_index(spark, str(sf))
    _write(docs, [f"lorem ipsum dolor sit amet {i}" for i in range(4)])
    new_merges = _merge_table(spark, str(sf))
    new_index = _scratch_index(spark, str(sf))
    assert new_merges.location != merges.location
    assert new_index.location != index.location

    def rows(t):
        return sorted(tuple(r) for r in t.collect())

    fresh = train_bpe(spark.read.parquet(docs).select("doc_id", "text"))
    assert rows(new_merges.read()) == rows(fresh) != rows(merges.read())
    # the index holds the existing corpus: doc_id % 4 != 0
    assert {r.doc_id for r in new_index.read().collect()} == {1, 2, 3}
