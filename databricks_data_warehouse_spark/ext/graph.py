"""Graph centrality over the near-duplicate document graph.

PageRank over a similarity/link graph is a standard corpus-curation
primitive: CommonCrawl-derived pipelines rank hosts and documents by
link authority before sampling, and near-dup cluster authority is the
same computation over the candidate-pair graph the dedup stage already
builds (ext/dedup.ngram_jaccard_pairs). A document that sits at the
center of a large near-dup neighborhood is boilerplate-like; rank is a
smooth, hub-aware version of the degree signal.

Beyond-reference operator (the reference has no graph code); the graph
input reuses the blocked inverted-index pair join that is already
oracle-green (dedup_ngram_jaccard), so the edge set itself is a known
cross-engine-exact quantity.

Cross-engine exactness: ranks live in scaled INTEGER units
(RANK_SCALE = 1e12 == mass 1.0) and every step of the power iteration
uses BIGINT floor division only — no floating point anywhere, so the
DuckDB oracle is bit-identical by construction at any scale and under
any summation order (integer addition is associative; there is no
ulp hazard to round away).

Scale shape (100 TB): the edge list and degree table are computed once
and persisted; each of the fixed ``iterations`` power steps is ONE
shuffle (groupBy dst over the contribution join — Catalyst broadcasts
the rank side or shuffles on the shared key) plus one single-row
aggregate for the dangling mass (bounded metadata collect, the same
pattern GraphX uses). Nothing is quadratic: the join is edge-linear,
the per-node state is two longs. Lineage is truncated by persisting
each iteration's ranks and unpersisting the previous one, so the plan
depth stays constant in ``iterations``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries._util import load
from ..signature import source_signature
from .dedup import ngram_jaccard_pairs_cached

# (application, path, source signature) → documents row count: the
# node count feeds teleport/dangling scalars and was a separate count()
# job per call; keyed like queries.tpch._supplier_count, so a
# regenerated corpus invalidates it
_doc_count_cache: dict = {}


def _documents_count(spark: SparkSession, sf_dir: str) -> int:
    import os

    path = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = (spark.sparkContext.applicationId, path, source_signature(path))
    if key not in _doc_count_cache:
        n = load(spark, sf_dir, "documents").count()
        # evict only stale generations of the SAME (app, path) — a
        # whole-dict clear() thrashed across sf_dirs (ADVICE r15)
        for k in [k for k in _doc_count_cache if k[:2] == key[:2]]:
            del _doc_count_cache[k]
        _doc_count_cache[key] = n
    return _doc_count_cache[key]

# 1.0 of rank mass in integer units. 1e12 keeps per-node ranks ≥ 1e6
# units for corpora up to ~1e6 docs (quantization loss stays ≤ 1e-6
# relative) while 85 × any partial sum stays far inside int64
# (total mass ≤ 1e12 → 85 × insum ≤ 8.5e13).
RANK_SCALE = 10**12

# Damping d = DAMP_NUM / DAMP_DEN = 0.85 expressed as an integer ratio
# so d·x is (85·x) div 100 — exact in both engines.
DAMP_NUM = 85
DAMP_DEN = 100


def pagerank_near_dup(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Fixed-iteration integer PageRank over the symmetrized word-bigram
    near-dup graph. Nodes are ALL documents (isolated docs are dangling:
    their mass teleports uniformly, the classic Brin–Page treatment).

    Per iteration, with n = |documents| and prev(v) the node's rank:

        dang     = Σ prev(v) over degree-0 nodes          (exact BIGINT)
        insum(v) = Σ prev(u) div degree(u) over edges u→v (exact BIGINT)
        next(v)  = (15·(S div n)) div 100
                   + (85·(insum(v) + dang div n)) div 100

    with S = RANK_SCALE. Every operation is integer, so the DuckDB twin
    (an unrolled CTE per iteration) matches bit-for-bit.

    Output: (doc_id, degree, pagerank_e12) — rank in 1e-12 units.
    """
    # shared scratch-cached edge set (VERDICT r12 item 6): the same
    # pair join the dedup_ngram_jaccard entry serves — computed once
    # per corpus, consumed by both
    pairs = ngram_jaccard_pairs_cached(
        spark, sf_dir, threshold=threshold
    ).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return pagerank_from_pairs(
        docs, pairs, iterations=iterations, n=_documents_count(spark, sf_dir)
    )


def pagerank_from_pairs(
    docs: DataFrame, pairs: DataFrame, iterations: int = 3, n: int | None = None
) -> DataFrame:
    """The integer power iteration itself, over any (doc_id) node frame
    and (doc_a, doc_b) undirected-pair frame — factored out so the
    arithmetic is property-testable against a pure-Python reference
    model on arbitrary graphs, independent of the corpus edge set."""
    # symmetrize via explode, NOT union of two selects: a union would
    # evaluate the (possibly expensive) pair join once per branch.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    if n is None:
        n = docs.count()
    if n == 0:
        # empty node frame: return the empty result rather than a
        # ZeroDivisionError (ADVICE r12)
        edges.unpersist()
        return docs.select(
            "doc_id",
            F.lit(0).cast("long").alias("degree"),
            F.lit(0).cast("long").alias("pagerank_e12"),
        )
    base = RANK_SCALE // n
    teleport = ((DAMP_DEN - DAMP_NUM) * base) // DAMP_DEN
    nodes = (
        docs.join(deg, docs.doc_id == deg.src, "left")
        .select("doc_id", F.coalesce("deg", F.lit(0)).alias("degree"))
        .persist()
    )
    ranks = nodes.select(
        "doc_id", "degree", F.lit(base).cast("long").alias("r")
    ).persist()
    for _ in range(iterations):
        # dangling mass: one single-row aggregate (bounded metadata
        # collect — the per-iteration scalar every PageRank impl pays).
        dang = (
            ranks.where(F.col("degree") == 0)
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("s"))
            .collect()[0]["s"]
        )
        dang_div_n = int(dang) // n
        contrib = (
            edges.join(
                ranks.where(F.col("degree") > 0).select(
                    F.col("doc_id").alias("src"),
                    F.expr("r div degree").alias("c"),
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("insum"))
        )
        prev = ranks
        ranks = (
            nodes.join(contrib, nodes.doc_id == contrib.dst, "left")
            .select(
                "doc_id",
                "degree",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({DAMP_NUM} * (coalesce(insum, 0L) + {dang_div_n}L))"
                        f" div {DAMP_DEN}"
                    )
                ).cast("long").alias("r"),
            )
            .persist()
        )
        ranks.count()  # materialize before dropping the previous state
        prev.unpersist()
    # the final ranks ARE the result (node-sized, one cached copy the
    # returned DataFrame serves from); everything else is released —
    # an eviction of the ranks cache falls back to lineage recompute,
    # which is correct, just cold.
    edges.unpersist()
    nodes.unpersist()
    out = ranks.select(
        "doc_id", "degree", F.col("r").alias("pagerank_e12")
    )
    return out
