"""The input generator is a pure function of its seed."""

from __future__ import annotations

import gen


def _hashes(root, seed):
    gen.star(seed, str(root / "star"), n_orders=1_500)
    gen.medallion_batches(seed, str(root / "batches"), 3)
    gen.corpus_shards(seed, str(root / "shards"), 2, docs_per_shard=200)
    return gen.dir_hashes(str(root))


def _rows(root):
    import pyarrow.parquet as pq

    out = {}
    for rel in gen.dir_hashes(str(root)):
        out[rel] = pq.ParquetFile(str(root / rel)).metadata.num_rows
    return out


def test_same_seed_same_content(tmp_path):
    a = _hashes(tmp_path / "a", 7)
    b = _hashes(tmp_path / "b", 7)
    assert a and a == b


def test_other_seed_other_data_same_shape(tmp_path):
    a = _hashes(tmp_path / "a", 7)
    b = _hashes(tmp_path / "b", 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if not k.endswith(("region.parquet", "nation.parquet")))
    # dirt, duplicates and updates are exact counts, so batches match too
    assert _rows(tmp_path / "a") == _rows(tmp_path / "b")


def test_every_seed_draws_the_same_amount_of_work(tmp_path):
    a = gen.corpus_shards(7, str(tmp_path / "a"), 1, docs_per_shard=200)[0]
    b = gen.corpus_shards(8, str(tmp_path / "b"), 1, docs_per_shard=200)[0]
    assert a.near_dups == b.near_dups == round(200 * gen.NEAR_DUP_SHARE)


def test_medallion_ground_truth_is_cumulative(tmp_path):
    batches = gen.medallion_batches(3, str(tmp_path), 3)
    for prev, cur in zip(batches, batches[1:]):
        for e, keys in prev.silver_keys.items():
            assert keys <= cur.silver_keys[e]
    assert set(batches[0].paths) == {"customers", "nations"}
    assert set(batches[1].paths) == {"customers"}
