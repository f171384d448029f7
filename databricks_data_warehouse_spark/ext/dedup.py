"""Deduplication operators over ``documents``: exact (hash-groupBy),
MinHash signatures + LSH band-bucket candidate pairs, n-gram Jaccard
verification, and SimHash.

Design for 100 TB:
- exact dedup shuffles by a 128-bit content hash — never by raw text —
  so shuffle rows are tiny and skew tracks true duplicate mass;
- near-dup never compares all pairs: LSH banding turns the O(n²)
  problem into a groupBy on band keys plus a join restricted to
  bucket-colliding candidates (the standard shingle→minhash→band→
  bucket-join pipeline);
- all hashing is MD5 over explicit strings → bit-identical in the
  DuckDB oracle (xxhash64 would be Spark-private).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries._util import load, read_parquet, rnd
from ..scratch import scratch_dir
from . import _ckpt
from .text import tokens, word_ngrams

# deterministic "permutations": salt the shingle hash with a fixed seed id
_N_MINHASH = 8
_BAND_SIZE = 2  # 4 bands × 2 rows → catches jaccard ≳ 0.5 reliably

# Frequency guards against quadratic blowup on degenerate keys: a join
# key shared by df documents emits O(df²) candidate rows, so one
# ubiquitous bigram ("of the") or one boilerplate-heavy LSH bucket can
# dominate the whole job at corpus scale. Keys above the cap are dropped
# BEFORE pairing (the standard stop-gram / prefix-filter guard); pairs
# whose entire similarity rides on such keys are boilerplate matches,
# not near-duplicates. Caps bound per-key pair fan-out at cap²/2.
# Testdata maxima are df=17 / bucket=16 (sf0.1), so the defaults never
# bind there and the oracle hashes are unchanged.
_MAX_GRAM_DF = 1000
_MAX_BAND_BUCKET = 1000


def normalized_text(col: Column) -> Column:
    """Normalization for content identity: lowercase, collapse whitespace,
    trim — typographic noise should not defeat exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by MD5 of normalized text; keep the
    smallest doc_id as canonical. Output one row per distinct content."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("copies"))
    )


def _shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text (set semantics, as
    Jaccard requires). Short docs fall back to a single whole-doc shingle.

    NOTE for hot paths: this expression references the tokenize chain
    (lower→regexp_replace→trim→split) ~6 times per row (size + fallback
    + the k+1 slice refs in word_ngrams), and higher-order-function
    lambdas defeat codegen subexpression elimination. Corpus-sized
    callers should materialize the token array first (the
    explode(array(...)) trick, see :func:`_with_tokens`) and call
    :func:`_shingles_of_tokens` — measured −44% on the inverted-index
    build at sf0.1, bit-identical output."""
    return _shingles_of_tokens(tokens(normalized_text(col)), k)


def _shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """:func:`_shingles` over an already-materialized token array."""
    n = F.size(toks)
    return F.array_distinct(
        F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(word_ngrams(toks, k))
    )


def _with_tokens(docs: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns plus the normalized token array of ``text``,
    materialized as a REAL attribute through a single-element explode.

    A Generate output is a real column, so downstream expressions that
    reference the token array many times (word_ngrams' k+1 slices, the
    short-doc fallback, set-size ratios) read the materialized array
    instead of re-inlining the regex+split chain per reference —
    CollapseProject would otherwise re-evaluate it every time, and
    subexpression elimination does not reach through higher-order
    lambdas (same trick as text.boilerplate_ngrams, measured ~30% there
    and −44% on the bigram inverted index)."""
    return docs.select(
        *keep,
        F.explode(F.array(tokens(normalized_text(F.col("text"))))).alias(
            "__toks"
        ),
    )


def _minhash_signatures_df(docs: DataFrame) -> DataFrame:
    """Signature core over any (doc_id, text) frame — shared by the
    corpus-wide path and the incremental batch path so the two can
    never drift."""
    exploded = _with_tokens(docs, "doc_id").select(
        "doc_id", F.explode(_shingles_of_tokens(F.col("__toks"))).alias("s")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"mh_{j}")
        for j in range(_N_MINHASH)
    ]
    return exploded.groupBy("doc_id").agg(*aggs, F.count("*").alias("n_shingles"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (8 hashes over 3-word shingles).

    Shape: explode shingles → one md5 per (row, seed) → groupBy doc_id
    with min() aggs. min/count are partially aggregable, so the shuffle
    carries only one 8-hash signature per doc — and the shingle array is
    computed exactly once (a per-column array formulation re-evaluates
    the shingling once per hash after projection collapse: 8× the work).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _minhash_signatures_df(docs)


def _band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_key) rows: each signature sliced into
    ``_N_MINHASH / _BAND_SIZE`` concatenated band keys — shared by the
    pair join and by ``dedup_cap_report`` so the report measures the
    exact key space the join buckets on."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col(f"mh_{b * _BAND_SIZE + r}") for r in range(_BAND_SIZE)],
                    )
                    for b in range(_N_MINHASH // _BAND_SIZE)
                ]
            )
        ).alias("band_key"),
    )


def minhash_candidate_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int = _MAX_BAND_BUCKET
) -> DataFrame:
    """LSH banding: docs sharing any band (concatenated minhash slice)
    become a candidate pair; pairs are then verified with exact shingle
    Jaccard. Only bucket-colliding pairs are ever joined — no O(n²),
    and band buckets larger than ``max_bucket`` are dropped entirely
    (degenerate buckets = boilerplate mass; see _MAX_BAND_BUCKET).

    Output: (doc_a, doc_b, jaccard) for verified pairs ≥ 0.5.
    """
    sigs = minhash_signatures(spark, sf_dir)
    bands = _band_keys(sigs)
    # bucket-size guard: the count window shares the band_key partitioning
    # with the self-join below, so Catalyst reuses the exchange — the cap
    # costs no extra shuffle.
    bands = (
        bands.withColumn(
            "bucket_n", F.count("*").over(Window.partitionBy("band_key"))
        )
        .where(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), on="band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    docs = _with_tokens(
        load(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", _shingles_of_tokens(F.col("__toks")).alias("sh"))
    verified = (
        pairs.join(docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .withColumn(
            "jaccard",
            rnd(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    max_df: int = _MAX_GRAM_DF,
) -> DataFrame:
    """Word-bigram Jaccard near-dup within same-(lang, source) blocks —
    a blocked (not all-pairs) exact similarity join; the blocking key
    stands in for any cheap partition-friendly prefilter at scale.

    Word bigrams (not char trigrams): char n-grams of same-language text
    are mostly shared vocabulary, which makes every within-block pair a
    candidate; word bigrams are ~document-specific, so the inverted
    index below stays near-linear. Docs with <2 tokens have no bigrams
    and drop out (Jaccard undefined).

    Grams with block-level document frequency > ``max_df`` are dropped
    from the gram space BEFORE the self-join (see _MAX_GRAM_DF): the
    per-gram pair fan-out is df², so one "of the"-grade bigram is
    otherwise quadratic in corpus size. Jaccard is computed over the
    surviving (informative) gram space on both sides of the ratio —
    self-consistent stop-gram semantics; with the default cap the filter
    never binds on the testdata, so results there are bit-identical to
    the uncapped oracle.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    # materialize the token array first: word_ngrams references it k+1
    # times and the tokenize chain is the hot expression (see _with_tokens)
    grams = _with_tokens(docs, "doc_id", "lang", "source").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(word_ngrams(F.col("__toks"), 2)).alias("grams"),
    )
    # inverted index: one row per (doc, gram). The pair join keys on
    # (lang, source, gram) — thousands of distinct keys instead of the
    # handful of (lang, source) blocks, so all cores participate and no
    # per-pair array intersection is ever materialized. |A∩B| is then a
    # plain count per pair and |A∪B| = n_a + n_b − common.
    inv = grams.select(
        "doc_id",
        "lang",
        "source",
        F.explode("grams").alias("gram"),
    )
    # df guard (gram-keyed count window, same key family as the join) …
    inv = (
        inv.withColumn(
            "df", F.count("*").over(Window.partitionBy("lang", "source", "gram"))
        )
        .where(F.col("df") <= max_df)
        .drop("df")
    )
    # … then per-doc set size over the SURVIVING grams (n must be
    # post-filter so |A∪B| = n_a + n_b − common stays exact)
    inv = inv.withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    a = inv.select(
        "lang", "source", "gram",
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"),
    )
    b = inv.select(
        "lang", "source", "gram",
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"),
    )
    return (
        a.join(b, on=["lang", "source", "gram"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("lang", "source", "doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("common"))
        .withColumn(
            "jaccard",
            rnd(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("lang", "source", "doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_cached(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    max_df: int = _MAX_GRAM_DF,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` through a scratch-parquet cache
    keyed on (``source_signature`` of the corpus, threshold, max_df):
    a same-size, same-mtime rewrite of the corpus still misses, as its
    footer hash moves. The pair join is the registry's most expensive
    SHARED subcomputation — the ``dedup_ngram_jaccard`` entry returns
    it directly and
    ``graph_pagerank_docs`` consumes the identical edge set, so per
    bench rep it used to run twice (VERDICT r12 item 6). This is the
    bench-scale analogue of what a production pipeline does anyway:
    persist the near-dup edge TABLE once and join everything else
    against it, instead of re-deriving a corpus-sized similarity join
    per consumer. It is a scratch fixture: built in staging and
    published with one rename, like every other."""
    import hashlib
    import inspect
    import os

    from . import text as _text

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    # the key carries the IMPLEMENTATION too (source hash of the pair
    # join + its tokenizer deps): scratch outlives code changes on this
    # host, and a stale cached edge set would mask a fix — or fabricate
    # an oracle mismatch — in every consumer (round-13 review)
    impl = hashlib.md5(
        (
            inspect.getsource(ngram_jaccard_pairs)
            + inspect.getsource(_text.tokens)
            + inspect.getsource(_text.word_ngrams)
            + inspect.getsource(normalized_text)
        ).encode()
    ).hexdigest()[:8]
    final = scratch_dir(
        "ngram_pairs", [src], (threshold, max_df, impl),
        lambda d: ngram_jaccard_pairs(
            spark, sf_dir, threshold=threshold, max_df=max_df
        ).write.mode("overwrite").parquet(d),
    )
    return read_parquet(spark, final)


# Below this many (symmetrized) edges the component structure is
# solved on the driver with a union-find over one collect — a near-dup
# pair graph is SPARSE by construction (thresholds keep it so), and the
# iterative pointer-jumping path costs ~1 s of fixed scheduling per
# round (join + checkpoint + convergence count as separate jobs)
# however tiny the graph. 200k edges ≈ a few MB collected and
# milliseconds of C-speed path-halving — far under any driver limit —
# while the distributed path stays the asymptotic route above it
# (measured: dedup_semantic 5.7 s → 2.4 s at sf0.1, identical labels).
_CC_DRIVER_MAX_EDGES = 200_000


def _cc_driver(spark, rows, node_type) -> DataFrame:
    """Union-find (union-by-min-root + path halving) over the collected
    edge list (``rows`` — already collected by the caller's size
    guard). Roots always keep the smaller id, so every node's final
    root IS the minimum id reachable from it — the same labels the
    pointer-jumping rounds converge to (edge ORDER is immaterial: the
    final label is the min reachable id whatever the union order)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in rows:
        a, b = row["a"], row["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", node_type), StructField("comp", node_type)]
    )
    return spark.createDataFrame(
        [(n, find(n)) for n in parent], schema
    )


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 15
) -> DataFrame:
    """Connected components of an undirected pair graph: every node gets
    ``comp`` = the minimum node id reachable from it. This is the
    cluster-resolution step of a near-dup pipeline (LSH/Jaccard pairs →
    clusters → keep one canonical doc per cluster).

    Min-label propagation with pointer jumping: each round a node takes
    the min of its own label, its neighbors' labels, and its label's
    label (path halving) — O(log n) rounds on any graph, vs O(diameter)
    for plain propagation. Each round is two shuffles on the (tiny)
    node/label relation, never on document payloads; lineage is
    truncated every round with an eager localCheckpoint so the plan
    stays constant-size. Raises if not converged within ``max_iter``
    (2^15 ≫ any real component diameter).

    Checkpoint hygiene (BENCH_r05 "What's wrong 1"): a local
    checkpoint's blocks are never freed by Spark, so every superseded
    round's blocks are released as soon as the next round materializes,
    and the edge/seed checkpoints before returning. The FINAL labels
    must survive for the caller, so their blocks go to the deferred
    list, freed on the next invocation or at a query boundary
    (:mod:`._ckpt`). Storage footprint is therefore ≤ 2 rounds of the
    node/label relation at any moment, invariant across invocations.
    """
    spark = edges.sparkSession
    _ckpt.release_deferred(spark)  # previous invocation's final labels
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym, sym_ids = _ckpt.local_checkpoint(sym)
    # sparse graphs (the near-dup norm) short-circuit to a driver
    # union-find. The size guard and the edge fetch are one collect
    # (round 16): limit(MAX+1).collect() returns every edge when the
    # graph is under the cap — previously a count job THEN a collect
    # job over the same checkpointed blocks. The collect is not one
    # job: CollectLimit scans 1 partition, then scales up ×4 per job
    # until it holds MAX+1 rows or has read every partition. Over the
    # cap the path pays that collect too: MAX+1 edges (a few MB) reach
    # the driver and are discarded before the distributed rounds.
    guard = sym.limit(_CC_DRIVER_MAX_EDGES + 1).collect()
    if len(guard) <= _CC_DRIVER_MAX_EDGES:
        node_type = sym.schema["a"].dataType
        try:
            return _cc_driver(spark, guard, node_type)
        finally:
            _ckpt.release(spark, sym_ids)
    labels, prev_ids = _ckpt.local_checkpoint(
        sym.select(F.col("a").alias("node")).distinct().withColumn(
            "comp", F.col("node")
        )
    )
    try:
        for _ in range(max_iter):
            nbr_min = (
                sym.join(
                    labels.select(
                        F.col("node").alias("b"), F.col("comp").alias("nbr_comp")
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nbr_comp").alias("nbr_comp"))
                .select(F.col("a").alias("node"), "nbr_comp")
            )
            jumped = labels.select(
                F.col("node").alias("comp"), F.col("comp").alias("jump_comp")
            )
            new_labels, new_ids = _ckpt.local_checkpoint(
                labels.join(nbr_min, "node", "left")
                .join(jumped, "comp", "left")
                .select(
                    "node",
                    F.least(
                        F.col("comp"),
                        F.coalesce("nbr_comp", F.col("comp")),
                        F.coalesce("jump_comp", F.col("comp")),
                    ).alias("comp"),
                )
            )
            # convergence test reads BOTH generations — release the old
            # one only after it
            changed = new_labels.join(labels, ["node", "comp"], "left_anti").count()
            _ckpt.release(spark, prev_ids)
            labels, prev_ids = new_labels, new_ids
            if changed == 0:
                _ckpt.defer_release(prev_ids)
                prev_ids = []
                return labels
        raise RuntimeError(
            f"connected_components: no convergence in {max_iter} rounds"
        )
    finally:
        # sym always; the in-flight labels only when not returned (on
        # the success path prev_ids was emptied after defer_release)
        _ckpt.release(spark, sym_ids + prev_ids)


def near_dup_clusters(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """Full near-dup resolution over ``documents``: blocked n-gram
    Jaccard pairs → connected components → one row per clustered doc
    with its cluster id (min doc_id), cluster size, and whether it is
    the canonical survivor. Singleton docs (no near-dup) are omitted —
    they need no resolution.
    """
    # round 16: consume the MATERIALIZED near-dup edge table
    # (ngram_jaccard_pairs_cached) instead of re-deriving the corpus
    # inverted-index join per call — the same r12-adjudicated edge set
    # `dedup_ngram_jaccard` returns and `graph_pagerank_docs` already
    # consumes (one production pipeline persists the pair table once;
    # every resolution stage joins against it). Identical rows by
    # construction (the cache IS ngram_jaccard_pairs' output, stat- and
    # implementation-keyed).
    pairs = ngram_jaccard_pairs_cached(spark, sf_dir, threshold).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(pairs, "doc_a", "doc_b")
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "comp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("comp")).alias("is_canonical"),
        )
    )


def simhash(spark: SparkSession, sf_dir: str, bits: int = 16) -> DataFrame:
    """SimHash over word tokens: bit i of the fingerprint is the majority
    vote of hash-bit i across tokens. 16 bits derived from the first 4 hex
    chars of each token's MD5 — oracle-reproducible.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.array_distinct(tokens(normalized_text(F.col("text"))))
    # explode → hash each token ONCE → 16 conditional-sum aggs. An
    # array-column formulation would re-evaluate the tokenize+md5 chain
    # once per bit (16×/row). explode_outer keeps empty docs (NULL token
    # → every vote -1 → fingerprint 0, same as voting over zero tokens).
    hashed = docs.select("doc_id", F.explode_outer(toks).alias("t")).select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("long").alias("h"),
    )
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i)) > 0, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    fingerprint: Column = F.lit(0)
    for i in range(bits):
        fingerprint = fingerprint + F.when(
            F.col(f"v{i}") > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return agg.select("doc_id", fingerprint.cast("long").alias("simhash16"))


def dedup_keep_canonical(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """The end of the dedup pipeline: the SURVIVING corpus. Documents
    that are either singletons (no near-dup) or the canonical member
    (min doc_id) of their near-dup cluster — i.e. ``documents`` minus
    every non-canonical cluster member from
    :func:`near_dup_clusters`.

    This is the operator a training-data pipeline actually materializes
    (pairs and clusters are intermediates); expressed as a left-anti
    join of the full corpus against the loser set, so the document
    payloads never enter the pair/cluster shuffles — only doc_ids do.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    losers = (
        near_dup_clusters(spark, sf_dir, threshold)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: documents, distinct contents
    (exact md5 of normalized text, as :func:`dedup_exact`), and the
    duplicate ratio — the corpus-health metric a dedup pipeline emits
    before anyone decides whether to run the expensive near-dup pass.

    One hash-groupBy per source over content digests; ratio divides
    exact counts (IEEE-identical)."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    hashed = docs.select("source", F.md5(normalized_text(F.col("text"))).alias("h"))
    return (
        hashed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            rnd(
                (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs"), 6
            ).alias("dup_ratio"),
        )
    )


def ngram_containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.6,
    max_df: int = _MAX_GRAM_DF,
) -> DataFrame:
    """Directed n-gram CONTAINMENT near-dup: containment(a→b) =
    |grams(a) ∩ grams(b)| / |grams(a)| within same-(lang, source)
    blocks — the asymmetric companion to :func:`ngram_jaccard_pairs`.

    Why it exists: Jaccard misses doc-in-doc duplication. A paragraph
    pasted into a 10× longer page scores |∩|/|∪| ≈ 0.1 (invisible at
    any usable Jaccard threshold) but containment(small→big) ≈ 1.0 —
    exactly the boilerplate-envelope / quote-expansion case a training
    corpus needs to catch (the same reason CCNet-style pipelines dedup
    on containment, Broder's "containment" from the original resemblance
    paper).

    Same scale shape as the Jaccard join: blocked inverted index keyed
    on (lang, source, gram), df-capped gram space (pair fan-out per
    gram is df²), |∩| as a per-pair count — no per-pair array
    intersection, nothing all-pairs. Emits BOTH directions of each
    intersecting pair (a→b and b→a are different questions); the
    denominator is the SOURCE doc's surviving-gram count, so the
    stop-gram semantics stay self-consistent on both sides.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    grams = _with_tokens(docs, "doc_id", "lang", "source").select(
        "doc_id", "lang", "source",
        F.array_distinct(word_ngrams(F.col("__toks"), 2)).alias("grams"),
    )
    inv = grams.select(
        "doc_id", "lang", "source", F.explode("grams").alias("gram")
    )
    inv = (
        inv.withColumn(
            "df", F.count("*").over(Window.partitionBy("lang", "source", "gram"))
        )
        .where(F.col("df") <= max_df)
        .drop("df")
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    a = inv.select(
        "lang", "source", "gram",
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"),
    )
    b = inv.select(
        "lang", "source", "gram", F.col("doc_id").alias("doc_b"),
    )
    return (
        a.join(b, on=["lang", "source", "gram"])
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("lang", "source", "doc_a", "doc_b", "n_a")
        .agg(F.count("*").alias("common"))
        .withColumn("containment", rnd(F.col("common") / F.col("n_a"), 4))
        .where(F.col("containment") >= threshold)
        .select("lang", "source", "doc_a", "doc_b", "containment")
    )


def dedup_cap_report(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int = _MAX_BAND_BUCKET,
    max_df: int = _MAX_GRAM_DF,
) -> DataFrame:
    """What the two dedup safety caps COST on this corpus — the
    skipping_report pattern applied to ``_MAX_BAND_BUCKET`` (LSH band
    buckets dropped by :func:`minhash_candidate_pairs`) and
    ``_MAX_GRAM_DF`` (stop-grams dropped by the inverted-index joins).

    The caps exist because a degenerate key is quadratic (pair fan-out
    per key is n²), but "dropped by design" must never mean "dropped
    silently": a production run reads this report to see how many keys
    bound, how much posting mass they carried, and how many documents
    lost candidate edges — the repo's no-silent-truncation standard
    (the count that tells you whether the capped join's recall story
    still holds on YOUR data).

    One row per cap:
      (cap, threshold, keys_total, keys_dropped,
       postings_total, postings_dropped, docs_affected)
    computed with the same key construction the joins use (shared
    helpers), one groupBy per cap plus a distinct-doc count over the
    dropped keys — O(index), no pair join.
    """

    def cap_row(postings: DataFrame, key_cols: list[str], cap_name: str,
                threshold: int) -> DataFrame:
        sizes = postings.groupBy(*key_cols).agg(F.count("*").alias("kn"))
        keys = sizes.agg(
            F.count("*").alias("keys_total"),
            F.sum(F.when(F.col("kn") > threshold, 1).otherwise(0)).alias(
                "keys_dropped"
            ),
            F.sum("kn").alias("postings_total"),
            F.sum(F.when(F.col("kn") > threshold, F.col("kn")).otherwise(0))
            .alias("postings_dropped"),
        )
        # docs_affected via a semi-join against the over-cap KEY SET
        # instead of a key-partitioned count window over the postings:
        # the window re-shuffled AND sorted the whole index; the dropped
        # keys are by construction few (each carries > threshold
        # postings, so #keys ≤ postings/threshold) — broadcast them.
        # Local A/B at sf0.1: neutral (min 2.91 vs 2.92 s interleaved);
        # at scale it removes the index-sized sort outright.
        dropped = sizes.where(F.col("kn") > threshold).select(*key_cols)
        docs = postings.join(
            F.broadcast(dropped), key_cols, "left_semi"
        ).agg(F.countDistinct("doc_id").alias("docs_affected"))
        return keys.crossJoin(docs).select(
            F.lit(cap_name).alias("cap"),
            F.lit(threshold).cast("long").alias("threshold"),
            F.col("keys_total").cast("long"),
            F.col("keys_dropped").cast("long"),
            F.col("postings_total").cast("long"),
            F.col("postings_dropped").cast("long"),
            F.col("docs_affected").cast("long"),
        )

    bands = _band_keys(minhash_signatures(spark, sf_dir))
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    grams = _with_tokens(docs, "doc_id", "lang", "source").select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.array_distinct(word_ngrams(F.col("__toks"), 2))
        ).alias("gram"),
    )
    return cap_row(bands, ["band_key"], "band_bucket", max_bucket).unionByName(
        cap_row(grams, ["lang", "source", "gram"], "gram_df", max_df)
    ).orderBy("cap")


def dedup_cap_report_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report with caps tightened (3/3) so they BIND on the test
    corpus — exercised cross-engine so the dropped-mass arithmetic is
    pinned, not just the all-zeros case the production caps produce
    here."""
    return dedup_cap_report(spark, sf_dir, max_bucket=3, max_df=3)
