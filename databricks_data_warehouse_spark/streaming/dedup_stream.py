"""Streaming ONLINE near-dup filtering: a document stream deduplicated
against everything already seen, as a custom stateful operator.

Batch dedup (ext/dedup.py) answers "which docs in this corpus are
near-dups of each other"; an ingestion pipeline needs the online form —
"is THIS incoming doc a near-dup of ANY previously arrived doc" —
decided at arrival time, which no join can express (the comparison set
grows with the stream). This is the third custom
``applyInPandasWithState`` operator (after running counts and the
expanding z-score), and like the z-score it carries a full value-hash
oracle: the arrival order is pinned to doc_id order, so the drained
stream equals a batch self-join against strictly-earlier docs.

Semantics: per language block, doc d is flagged ``is_dup`` iff some
earlier doc (smaller doc_id, same lang) has a 16-bit SimHash within
Hamming distance ≤ 1 — SEEN docs, not kept docs, so the decision for d
is independent of decisions for other docs (no greedy chain, which is
what makes the SQL twin expressible as a plain ordered self-join).

State per key: one uint16 fingerprint per seen doc (ArrayType(Long) in
the state store) — 2 bytes of payload per document ever seen. At
100 TB scale the production shape is the same operator with 64-128-bit
fingerprints and the state sharded to (lang, simhash-prefix) keys, so
each store holds one bucket of the fingerprint space; the 16-bit width
here is the oracle-reproducible demo of the mechanism (like
ext/dedup.simhash, whose fingerprint function this replicates
bit-for-bit: md5 first-4-hex-chars per distinct token, majority vote
per bit).
"""

from __future__ import annotations

import hashlib
import os
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_BITS = 16
_HAMMING_K = 1

_STATE_SCHEMA = StructType(
    [StructField("fps", ArrayType(LongType()), True)]
)
_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("lang", StringType(), True),
        StructField("simhash16", LongType(), True),
        StructField("is_dup", BooleanType(), True),
    ]
)

_POPCOUNT = None  # 65536-entry table, built lazily on the executor


def _simhash16_py(text: str | None) -> int:
    """Bit-for-bit Python twin of ext/dedup.simhash (and the DuckDB
    oracle): lowercase → collapse ASCII whitespace → trim → whitespace
    tokens → DISTINCT → per-token h = int(md5[:4 hex], 16) → majority
    vote per bit. The regex uses the ASCII \\s class because Java and
    RE2 \\s are ASCII while Python's default is Unicode."""
    if text is None:
        return 0
    norm = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip()
    if not norm:
        return 0
    votes = [0] * _BITS
    for tok in set(norm.split(" ")):
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:4], 16)
        for i in range(_BITS):
            votes[i] += 1 if h & (1 << i) else -1
    fp = 0
    for i in range(_BITS):
        if votes[i] > 0:
            fp |= 1 << i
    return fp


def _update_simhash_dedup(key, pdf_iter, state: GroupState):
    """Per-lang online dedup: the state is the fingerprint multiset of
    every doc seen so far; each arriving doc (processed in doc_id
    order) is flagged against it, then added to it. The Hamming check
    is a table-lookup popcount over a vectorized XOR — O(seen) per doc
    with numpy throughput, and O(bucket) once the state key is sharded
    by fingerprint prefix at scale."""
    import numpy as np

    global _POPCOUNT
    if _POPCOUNT is None:
        _POPCOUNT = np.array(
            [bin(i).count("1") for i in range(1 << 16)], dtype=np.int8
        )

    (lang,) = key
    seen = list(state.get[0]) if state.exists else []
    pdf = pd.concat(list(pdf_iter)).sort_values("doc_id")
    fps = [_simhash16_py(t) for t in pdf["text"]]
    seen_arr = np.array(seen, dtype=np.int64)
    dup = []
    for fp in fps:
        if seen_arr.size:
            dup.append(bool((_POPCOUNT[np.bitwise_xor(seen_arr, fp)] <= _HAMMING_K).any()))
        else:
            dup.append(False)
        seen_arr = np.append(seen_arr, np.int64(fp))
    state.update(([int(x) for x in seen_arr],))
    out = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(),
            "lang": lang,
            "simhash16": np.array(fps, dtype=np.int64),
            "is_dup": dup,
        }
    )
    yield out


def _stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a bounded file stream (flat-staged like the events
    source in windows.py — the file source lists only the top level)."""
    from ..queries._util import read_parquet
    from .windows import _stream_source_dir

    d = _stream_source_dir(sf_dir, "documents")
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    schema = read_parquet(spark, src).schema
    return spark.readStream.schema(schema).parquet(d)


def stream_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable online near-dup filter: the documents stream
    flagged per arrival against all previously seen same-lang docs
    (SimHash Hamming ≤ 1). Arrival order = doc_id order (sorted within
    the single enforced batch), so the result is hash-identical to the
    batch strictly-earlier self-join the DuckDB oracle runs."""
    from .windows import _run_to_memory

    docs = _stream_documents(spark, sf_dir).select("doc_id", "lang", "text")
    flagged = docs.groupBy("lang").applyInPandasWithState(
        _update_simhash_dedup,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # a handful of language keys; arrival order is per-batch sorted, so
    # the oracle equivalence needs the whole drain in one micro-batch
    return _run_to_memory(
        flagged, "append", state_partitions=4, expect_single_batch=True
    )
