"""Corpus-trained mini-BPE tokenizer (VERDICT r06 item 7): the token
counts the budgeting/packing operators consume, made tokenizer-accurate
instead of whitespace-approximate.

Classic byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909)
over the ``documents`` table:

- **training** operates on the DISTINCT-WORD frequency table (the
  standard trainer shape — Zipf makes it orders of magnitude smaller
  than the corpus): each round counts adjacent symbol pairs weighted by
  word frequency, merges the most frequent pair (ties broken
  lexicographically, so training is fully deterministic — no RNG, no
  hash-order dependence), and rewrites the word table. Two
  implementations of the SAME algorithm, property-tested identical:
  a driver loop for word tables that fit in memory (how HF/sentencepiece
  trainers run), and a distributed variant whose per-round pair count
  is a Spark aggregation and whose merge rewrite is a JVM-side
  ``aggregate`` fold — the path for corpora whose distinct-word table
  itself is big data. Lineage is truncated per round with scoped
  localCheckpoints (:mod:`._ckpt`), the connected-components discipline.
- **the merge table is data**: (rank, left, right) rows persisted in a
  :class:`~..sources.tables.ManagedTable`, so the tokenizer an
  experiment trained is versioned, time-travelable table state — not a
  pickled artifact on someone's laptop.
- **encoding** replays the merge list in rank order over each distinct
  word (exactly the transformation training applied — segmentation is
  consistent with training by construction) in an Arrow-batched pandas
  UDF, memoized per distinct word and joined back to documents: the
  Python boundary is crossed once per VOCABULARY entry, not once per
  corpus token.

Oracle (round 8): training itself is iterative state, not a relational
expression — so the oracle replays it at construction time with the
in-memory reference trainer (the implementation the distributed path is
property-tested identical to), emits the resulting (word → token count)
vocabulary as a fingerprint-keyed VALUES relation, and DuckDB verifies
the relational half (tokenize, vocabulary join, per-doc aggregation) —
see ``__spark_entry__._bpe_vocab_values``. Property tests
(tests/test_bpe.py) still pin driver ≡ distributed training,
determinism, hand-computed merges, count monotonicity in num_merges,
and whitespace-count upper bounds.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries._util import load
from ..scratch import inputs, scratch_table
from ..sources.tables import ManagedTable
from . import _ckpt
from .text import tokens

# small defaults tuned for the synthetic corpus; real deployments raise
# num_merges into the tens of thousands — cost model unchanged
NUM_MERGES = 64
MIN_PAIR_FREQ = 2

# distinct-word count above which training switches to the distributed
# rounds (driver training is the in-memory trainer every mainstream
# tokenizer uses; the switch is about the WORD TABLE size, not corpus)
_DRIVER_TRAIN_MAX_WORDS = 200_000


def _merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """One left-to-right merge pass (non-overlapping, greedy) — the
    single definition both trainers and the encoder share."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) — the trainer's input relation."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _train_driver(
    word_freqs: list[tuple[str, int]], num_merges: int, min_pair_freq: int
) -> list[tuple[int, str, str]]:
    """In-memory trainer over the distinct-word table."""
    words: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs:
        k = tuple(w)
        words[k] = words.get(k, 0) + f
    merges: list[tuple[int, str, str]] = []
    for rank in range(num_merges):
        counts: Counter = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        # deterministic argmax: max frequency, ties to the
        # lexicographically smallest pair
        best, freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if freq < min_pair_freq:
            break
        merges.append((rank, best[0], best[1]))
        new_words: dict[tuple[str, ...], int] = {}
        for syms, f in words.items():
            k = tuple(_merge_word(list(syms), best[0], best[1]))
            new_words[k] = new_words.get(k, 0) + f
        words = new_words
    return merges


def _apply_merge_col(syms: Column, left: str, right: str) -> Column:
    """``_merge_word`` as a JVM-side aggregate fold (no Python
    boundary in the distributed trainer's rewrite)."""
    merged, ll, rr = F.lit(left + right), F.lit(left), F.lit(right)
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(st: Column, s: Column) -> Column:
        return (
            F.when(
                (st["pend"] == ll) & (s == rr),
                F.struct(
                    F.concat(st["acc"], F.array(merged)).alias("acc"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .when(
                st["pend"].isNull(),
                F.struct(st["acc"].alias("acc"), s.alias("pend")),
            )
            .otherwise(
                F.struct(
                    F.concat(st["acc"], F.array(st["pend"])).alias("acc"),
                    s.alias("pend"),
                )
            )
        )

    def fin(st: Column) -> Column:
        return F.when(st["pend"].isNull(), st["acc"]).otherwise(
            F.concat(st["acc"], F.array(st["pend"]))
        )

    return F.aggregate(syms, init, step, fin)


def _train_distributed(
    words: DataFrame, num_merges: int, min_pair_freq: int
) -> list[tuple[int, str, str]]:
    """The SAME algorithm with per-round Spark aggregation: pair counts
    are a groupBy over the exploded adjacent-pair relation, the argmax
    is an orderBy-limit-1, and the merge rewrite is a JVM fold. Each
    round checkpoints the word table so the plan stays constant-size."""
    spark = words.sparkSession
    syms = F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    )
    cur = words.select(syms.alias("syms"), "freq")
    cur, prev_ids = _ckpt.local_checkpoint(cur)
    merges: list[tuple[int, str, str]] = []
    try:
        for rank in range(num_merges):
            pairs = cur.select(
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1), "
                        "(s, i) -> struct(s AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
                "freq",
            )
            top = (
                pairs.groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top or top[0].n < min_pair_freq:
                break
            left, right = top[0].l, top[0].r
            merges.append((rank, left, right))
            nxt, nxt_ids = _ckpt.local_checkpoint(
                cur.select(
                    _apply_merge_col(F.col("syms"), left, right).alias("syms"),
                    "freq",
                )
            )
            _ckpt.release(spark, prev_ids)
            cur, prev_ids = nxt, nxt_ids
    finally:
        _ckpt.release(spark, prev_ids)
    return merges


def train_bpe(
    docs: DataFrame,
    num_merges: int = NUM_MERGES,
    min_pair_freq: int = MIN_PAIR_FREQ,
    distributed: bool | None = None,
) -> DataFrame:
    """Train the merge table over (doc_id, text) rows; returns
    (rank int, left string, right string). ``distributed=None`` picks
    by distinct-word count."""
    spark = docs.sparkSession
    words = _word_freqs(docs)
    if distributed is None:
        distributed = words.count() > _DRIVER_TRAIN_MAX_WORDS
    if distributed:
        merges = _train_distributed(words, num_merges, min_pair_freq)
    else:
        merges = _train_driver(
            [(r.w, r.freq) for r in words.collect()], num_merges, min_pair_freq
        )
    return spark.createDataFrame(
        merges or [], "rank int, left string, right string"
    )


def bpe_token_counts(
    docs: DataFrame, merges: list[tuple[int, str, str]]
) -> DataFrame:
    """(doc_id, n_tokens) under the trained tokenizer: encode each
    DISTINCT word once (pandas UDF, Arrow-batched), join the lengths
    back, sum per document. Empty documents count 0."""
    ordered = [(l, r) for _rank, l, r in sorted(merges)]

    @F.pandas_udf("long")
    def word_len(ws: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def enc(w: str) -> int:
            got = memo.get(w)
            if got is None:
                syms = list(w)
                for left, right in ordered:
                    if len(syms) == 1:
                        break
                    syms = _merge_word(syms, left, right)
                got = memo[w] = len(syms)
            return got

        return ws.map(enc)

    words = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    lens = words.select("w").distinct().select(
        "w", word_len(F.col("w")).alias("w_tokens")
    )
    per_doc = (
        words.join(lens, "w")
        .groupBy("doc_id")
        .agg(F.sum("w_tokens").alias("n_tokens"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("n_tokens", F.lit(0)).alias("n_tokens")
        )
    )


# ------------------------------------------------------- driver entry
def _merge_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """The corpus's trained merge table, stored once per corpus in a
    ManagedTable (versioned tokenizer state)."""

    def build(t):
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        t.overwrite(train_bpe(docs))

    return scratch_table(
        spark, "bpe_merges", inputs(sf_dir, "documents"), None, build
    )


def text_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: per-document token counts under the
    corpus-trained BPE (merge table persisted as a ManagedTable),
    alongside the whitespace count whose upper-bound relationship the
    property tests pin. Exact-oracled since round 8 (training replayed
    by the reference trainer at oracle-construction time; relational
    half verified in DuckDB — see module docstring)."""
    table = _merge_table(spark, sf_dir)
    merges = [
        (r.rank, r.left, r.right) for r in table.read().collect()
    ]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    counts = bpe_token_counts(docs, merges)
    ws = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens")
    )
    return counts.join(ws, "doc_id").select(
        "doc_id", F.col("n_tokens").alias("bpe_tokens"), "ws_tokens"
    )
