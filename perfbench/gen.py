"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, and writes them as one parquet file with one row group per
table, the layout of the repository's testdata. Nothing here touches Spark.

- ``star``: the TPC-H-shaped star that ``queries.*`` functions read, in
  the sf0.1 shape of the testdata (15k customers, 150k orders, ~600k
  lineitem, ~14 MB of parquet).
- ``medallion_batches``: dirty customer micro-batches (FIXTURES.md
  section A) and a nations dimension, plus the ground truth of what
  silver must hold after each batch.
- ``corpus_shards``: document shards with the testdata vocabulary,
  lang/source mix and a stated near-duplicate share, plus embeddings.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- helpers

def _write(table: pa.Table, path: str) -> int:
    """One file, one row group (the testdata layout); returns its bytes."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return os.path.getsize(path)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    hi = np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Exactly-2dp doubles (the testdata money columns are all 2dp)."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _exact(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A mask with exactly round(n * share) rows set, at seeded places:
    every seed carries the same amount of each kind of row, so runs at
    different seeds do the same work."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, int(round(n * share)), replace=False)] = True
    return mask


def _spread(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    """``n`` draws of ``values`` in exact proportions ``p`` (default
    equal), shuffled."""
    p = np.full(len(values), 1 / len(values)) if p is None else np.asarray(p)
    counts = np.floor(p * n).astype(int)
    counts[: n - counts.sum()] += 1  # the remainder, one each from the first
    return rng.permutation(np.repeat(np.asarray(values), counts))


def content_hash(path: str) -> str:
    """Hash of a parquet file's rows and schema, independent of writer
    metadata: two files with equal data hash equal."""
    table = pq.read_table(path)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def dir_hashes(root: str) -> dict[str, str]:
    """{relative path: content hash} of every parquet file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = content_hash(p)
    return out


# ------------------------------------------------------------ star schema

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def star(seed: int, out_dir: str, n_orders: int = 150_000) -> dict[str, int]:
    """Write the star into ``out_dir``; returns {table: row count}.

    Row counts scale from ``n_orders`` the way the testdata's do
    (customer = orders/10, part = orders*2/15, supplier = orders/150,
    lineitem ~ 4 lines per order with uniformly drawn order keys, so
    ``(l_orderkey, l_linenumber)`` repeats as in the testdata)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = n_orders // 10, n_orders * 2 // 15, max(8, n_orders // 150)
    n_li = n_orders * 4
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_P_ADJ[a]} {_P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# --------------------------------------------------- medallion micro-batches

# Dirt shares of each customer batch (FIXTURES.md section A). Every share
# is of the batch's NEW rows; updates are extra rows on keys that landed
# clean in an earlier batch.
SHARES = {
    "customer_recoverable": 0.10,  # " automobile ", "Machinery " ...: the DLQ cleanse fixes them
    "customer_dead_domain": 0.03,  # segment outside the domain: never recovers
    "exact_duplicate": 0.02,       # the same row twice in one batch
    "update": 0.05,                # a changed row for a key already in silver
}
N_NATIONS = 25


@dataclass
class MedallionBatch:
    """One landed batch: parquet paths per entity plus the ground truth
    of silver after the batch has run through every stage."""

    index: int
    paths: dict[str, str]
    rows: dict[str, int]
    bytes: int
    silver_keys: dict[str, set] = field(default_factory=dict)


def _ts(day0: np.datetime64, rng: np.random.Generator, n: int) -> np.ndarray:
    return day0 + rng.integers(0, 86_400, n).astype("timedelta64[s]")


def medallion_batches(
    seed: int, out_dir: str, n_batches: int, customers_per_batch: int = 400
) -> list[MedallionBatch]:
    """Write ``n_batches`` batch directories under ``out_dir``.

    Batch 0 also carries ``nations``, the clean reference dimension that
    customers point to; every batch lands new and updated customers. The
    returned ground truth is cumulative: ``silver_keys[e]`` is the key
    set silver must hold after that batch."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    silver = {"customers": set(), "nations": set(range(N_NATIONS))}
    updatable: list[int] = []  # clean keys that may still take their one update
    next_cust = 0
    batches = []
    base_day = np.datetime64("2024-01-01T00:00:00", "s")
    for b in range(n_batches):
        day0 = base_day + np.timedelta64(3 * b, "D")
        bdir = os.path.join(out_dir, f"batch_{b:03d}")
        os.makedirs(bdir, exist_ok=True)
        tables: dict[str, pa.Table] = {}

        if b == 0:
            tables["nations"] = pa.table({
                "n_nationkey": np.arange(N_NATIONS, dtype=np.int64),
                "n_name": [f"NATION {i:02d}" for i in range(N_NATIONS)],
                "created_on": _ts(day0, rng, N_NATIONS),
            })

        n = customers_per_batch
        keys = np.arange(next_cust, next_cust + n, dtype=np.int64)
        next_cust += n
        seg = _spread(rng, SEGMENTS, n).astype(object)
        kind = rng.permutation(n)
        n_recov = int(round(n * SHARES["customer_recoverable"]))
        n_dead = int(round(n * SHARES["customer_dead_domain"]))
        recov = kind < n_recov
        dead = (kind >= n_recov) & (kind < n_recov + n_dead)
        seg[recov] = [f"  {s.lower()} " for s in seg[recov]]
        seg[dead] = "UNKNOWN"
        cust = {
            "c_custkey": keys,
            "c_name": np.array([f"Customer#{k:09d}" for k in keys], dtype=object),
            "c_nationkey": rng.integers(0, N_NATIONS, n).astype(np.int64),
            "c_mktsegment": seg,
            "created_on": _ts(day0, rng, n),
        }
        dup = _exact(rng, n, SHARES["exact_duplicate"])
        clean = ~dup & ~dead
        silver["customers"] |= set(keys[clean].tolist())
        fresh_clean = keys[clean & ~recov].tolist()
        n_upd = int(round(n * SHARES["update"])) if updatable else 0
        upd = set(rng.choice(len(updatable), n_upd, replace=False).tolist()
                  if n_upd else [])
        upd_keys = np.array([updatable[i] for i in sorted(upd)], dtype=np.int64)
        updatable = [k for i, k in enumerate(updatable) if i not in upd] + fresh_clean
        order = np.concatenate([np.arange(n), np.flatnonzero(dup)])
        parts = {c: v[order] for c, v in cust.items()}
        if len(upd_keys):
            parts = {
                c: np.concatenate([v, _customer_update(c, upd_keys, rng, day0)])
                for c, v in parts.items()
            }
        tables["customers"] = pa.table({
            "c_custkey": parts["c_custkey"].astype(np.int64),
            "c_name": parts["c_name"].astype(str),
            "c_nationkey": parts["c_nationkey"].astype(np.int64),
            "c_mktsegment": parts["c_mktsegment"].astype(str),
            "created_on": parts["created_on"].astype("datetime64[us]"),
        })

        paths, rows, nbytes = {}, {}, 0
        for name, table in tables.items():
            p = os.path.join(bdir, f"{name}.parquet")
            nbytes += _write(table, p)
            paths[name], rows[name] = p, table.num_rows
        batches.append(MedallionBatch(
            b, paths, rows, nbytes, {e: set(s) for e, s in silver.items()}
        ))
    return batches


def _customer_update(col, keys, rng, day0):
    n = len(keys)
    if col == "c_custkey":
        return keys
    if col == "c_name":
        return np.array([f"Customer#{k:09d} (renamed)" for k in keys], dtype=object)
    if col == "c_nationkey":
        return rng.integers(0, N_NATIONS, n).astype(np.int64)
    if col == "c_mktsegment":
        return np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n)]
    return _ts(day0, rng, n)


# ------------------------------------------------------------ corpus shards

# the testdata vocabulary: 30 content words incl. the 'a'/'the' en markers
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_SHARE = 0.08  # docs that copy an earlier doc of their (lang, source) block


@dataclass
class CorpusShard:
    index: int
    dir: str
    docs: int
    near_dups: int
    bytes: int  # documents.parquet, the input the corpus ops consume


def corpus_shards(
    seed: int, out_dir: str, n_shards: int, docs_per_shard: int = 1_000
) -> list[CorpusShard]:
    """Write ``n_shards`` directories, each holding ``documents.parquet``
    and ``embeddings.parquet``. Doc ids are global across shards."""
    rng = np.random.default_rng([seed, 3])
    shards = []
    for s in range(n_shards):
        n = docs_per_shard
        ids = np.arange(s * n, (s + 1) * n, dtype=np.int64)
        lang = _spread(rng, _LANGS, n, _LANG_P)
        source = _spread(rng, [f"src{i}" for i in range(20)], n)
        lengths = rng.permutation(np.linspace(10, 100, n).round().astype(int))
        words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(lengths.sum()))]
        cuts = np.concatenate([[0], np.cumsum(lengths)])
        text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
        # exactly NEAR_DUP_SHARE of the docs copy an earlier doc of their
        # (lang, source) block
        block = np.char.add(lang.astype(str), source.astype(str))
        _, first = np.unique(block, return_index=True)
        can_copy = np.ones(n, dtype=bool)
        can_copy[first] = False
        picks = rng.choice(np.flatnonzero(can_copy), int(round(n * NEAR_DUP_SHARE)),
                           replace=False)
        near = 0
        for i in np.sort(picks):
            same = np.flatnonzero(block[:i] == block[i])
            toks = text[rng.choice(same)].split()
            j = rng.integers(0, len(toks))
            toks[j] = _VOCAB[rng.integers(0, len(_VOCAB))]  # one-word edit
            text[i] = " ".join(toks) + " dup"
            near += 1
        sdir = os.path.join(out_dir, f"shard_{s:03d}")
        os.makedirs(sdir, exist_ok=True)
        nbytes = _write(pa.table({
            "doc_id": ids,
            "text": text,
            "lang": lang,
            "source": source,
            "n_chars": np.array([len(x) for x in text], dtype=np.int64),
        }), os.path.join(sdir, "documents.parquet"))
        emb = rng.standard_normal((n, 64)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        _write(pa.table({
            "vec_id": ids,
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }), os.path.join(sdir, "embeddings.parquet"))
        shards.append(CorpusShard(s, sdir, n, near, nbytes))
    return shards
