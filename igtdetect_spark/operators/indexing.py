"""Search-tier index construction over a document corpus: inverted
postings lists (term → sorted document ids with frequencies).

This is the step after extraction/cleaning when the corpus feeds a
search or retrieval stack (a CC-style pipeline's other consumer besides
LLM training): build, per term, the document-frequency statistics and a
bounded posting sample.

Scale shape (the part that matters at 10¹² documents):

* term-frequency grain first — ONE hash aggregate on (term, doc_id)
  with map-side partial combine, so a stopword occurring 10⁹ times
  collapses to one row per document before anything term-global runs;
* every term-global statistic (df, total tf, the posting sample) is
  computed per-partition-of-``term`` in ONE window pass over that
  relation, and the posting sample is CAPPED at ``top_postings`` rows
  *before* any ``collect_list`` — the unbounded
  ``collect_list``-per-term (a stopword's full posting list) is the
  classic index-build OOM and never happens here;
* hapax terms (df < ``min_df``) are dropped AFTER the stats window so
  ``df`` is exact, which is also where a ``max_df`` stopword cut would
  slot in;
* total exchanges: (term, doc_id) hash agg → ``term`` hash exchange for
  the window; the final group-by-``term`` reuses the window's
  partitioning (AQE exchange reuse — asserted in tests/test_plans).

The truncation is DISCLOSED in the output: ``df`` is the exact distinct
document count even when ``postings`` holds only the first
``top_postings`` document ids, so a consumer can see what was dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cleaning import tokenized
from .dedup import materialize, scoped
from .scale import spread_small_scan


def term_frequencies(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf) — per-document term counts over whitespace
    tokens (the cleaning family's tokenizer, so every index query
    shares one congruent token definition with the oracles)."""
    docs = spread_small_scan(docs, "doc_id")
    return (
        tokenized(docs)
        .select("doc_id", F.explode("tk").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


@scoped
def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
) -> DataFrame:
    """BM25 retrieval over the corpus for a bounded query workload —
    the scoring half of the search tier, consuming the same (term,
    doc_id, tf) grain :func:`inverted_index` builds.  ``queries`` is a
    (query_id, term) relation with unique rows (a query repeating a
    term should pre-aggregate its weight; this operator treats each
    row as one query term).

    Scoring is Robertson/Lucene BM25:
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`` and
    ``w(t,d) = idf·tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`` with
    the Lucene constants k1 = 1.2, b = 0.75.

    Cross-engine exactness: each TERM contribution is floored to e6
    micro-units FIRST and the per-(query, doc) score is the BIGINT sum
    of those integers — summing doubles would hash-differ between
    engines in summation order alone.  Inside one contribution every
    multiply/divide is correctly-rounded IEEE and the expression tree
    is written congruently on both engines; ``ln`` may differ in the
    last ulp, which the e6 floor absorbs (same argument as
    ``tfidf_top_terms``).  Ties break on doc_id.

    Scale shape: the query relation is TINY BY CONSTRUCTION (a
    benchmark workload, not user traffic) and is broadcast; the
    corpus-side (term, doc_id, tf) relation is filtered by that
    broadcast join BEFORE anything per-document joins it, so the
    expensive relations (doc lengths, df) only meet query-relevant
    rows.  df and dl stay EXACT over the full corpus: df is one
    map-side-combinable aggregate on term immediately reduced by the
    query-term join; dl is one aggregate on doc_id joined against the
    already-filtered hit set (AQE broadcasts the small side).  The
    global (N, Σdl) pair is a 1-row broadcast cross join.

    Output: (query_id, rank, doc_id, matched_terms, score_e6),
    ``rank ≤ top_k`` per query by (score desc, doc_id).
    """
    # tf is consumed by THREE branches (query hits, doc lengths, df):
    # unmaterialized, each one re-tokenizes the whole corpus — measured
    # 3× the index-build wall at scale.  In production BM25 reads the
    # PREBUILT index; for the self-contained query the materialization
    # plays that role.  Round 6: EAGER localCheckpoint instead of lazy
    # persist — the lazy cache left tf's subtree inlined in all three
    # branch plans and let the branches race its first materialization
    # (4.4 → 2.5 s at sf1.0, A/B in one session).
    tf = materialize(term_frequencies(docs), "local")
    qt = F.broadcast(queries)
    hits = tf.join(qt, "term")
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    nd = dl.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("dl").alias("_tok")
    )
    qdf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(qt.select("term").distinct(), "term")
    )
    avgdl = F.col("_tok").cast("double") / F.col("_n")
    k1, b = 1.2, 0.75
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = F.floor(
        F.lit(1e6) * idf * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
        )
    ).cast("long")
    scored = (
        hits.join(dl, "doc_id")
        .join(F.broadcast(qdf), "term")
        .crossJoin(F.broadcast(nd))
        .select("query_id", "doc_id", contrib.alias("_c"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("matched_terms"),
            F.sum("_c").alias("score_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_e6"), F.col("doc_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            F.col("matched_terms").cast("long").alias("matched_terms"),
            F.col("score_e6").cast("long").alias("score_e6"),
        )
    )
    return out


def postings_gap_stats(
    docs: DataFrame, min_df: int = 2, top_terms: int = 50
) -> DataFrame:
    """Posting-list d-gap statistics — the index-SIZE estimation a
    search tier runs before choosing a posting compression (delta +
    varint/Elias-style codes store ``bits(gap)`` per posting, so the
    gap distribution IS the index size): per term, exact df, the max
    and mean doc-id gap, and the total delta-coded bit cost.

    Integer-exact across engines: ``bits(gap) = length(bin(gap))`` —
    the binary-string length both engines produce, not
    ``floor(log2())`` whose last-ulp behavior at exact powers of two
    differs; the mean gap is an integral-division e6 fixed-point.  The
    first posting's gap is ``doc_id + 1`` (delta from the standard -1
    base) so every gap is ≥ 1 and ``bin`` is defined.

    Scale shape: the gap lag runs in the SAME term-partitioned window
    pass the index build uses (one term exchange, reused by the
    following per-term aggregate), and the top-``top_terms`` cut
    compiles to TakeOrderedAndProject — Spark's distributed top-k
    (per-partition heads merged on the driver), NOT a global sort
    shuffle.  Ties at the cut break on the term string, so the output
    set is deterministic.

    Output: (term, df, max_gap, avg_gap_e6, delta_bits), the
    ``top_terms`` highest-df terms.
    """
    tf = term_frequencies(docs)
    w = Window.partitionBy("term").orderBy("doc_id")
    gap = F.coalesce(
        F.col("doc_id") - F.lag("doc_id").over(w),
        F.col("doc_id") + F.lit(1),
    )
    g = tf.select("term", gap.alias("gap"))
    stats = g.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.max("gap").alias("max_gap"),
        F.sum("gap").alias("_gap_sum"),
        F.sum(F.length(F.bin("gap"))).alias("delta_bits"),
    )
    return (
        stats.filter(F.col("df") >= min_df)
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("max_gap").cast("long").alias("max_gap"),
            F.expr("(_gap_sum * 1000000L) div df").alias("avg_gap_e6"),
            F.col("delta_bits").cast("long").alias("delta_bits"),
        )
        .orderBy(F.desc("df"), F.col("term"))
        .limit(top_terms)
    )


@scoped
def search_rank_fusion(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """Retrieve-then-rerank with reciprocal-rank fusion (RRF,
    Cormack et al. 2009): BM25 generates each query's candidate set,
    a query-independent quality prior re-ranks WITHIN that set, and
    the two rankings fuse as
    ``rrf_e6 = 10⁶ div (60 + text_rank) + 10⁶ div (60 + prior_rank)``
    — integral division keeps the fused score a BIGINT so the oracle
    matches bit-for-bit (float RRF would differ in the last ulp).

    Scale shape — the part that matters at 10¹² docs: the prior
    ranking happens INSIDE each query's ≤20-doc candidate set
    (a window partitioned by query_id over a few dozen rows), never as
    a global quality sort of the corpus; the quality join touches only
    candidate doc_ids.  Candidate generation inherits
    :func:`bm25_topk`'s shape (broadcast query workload gating the
    corpus before any per-doc join).

    Output: (query_id, final_rank, doc_id, text_rank, prior_rank,
    rrf_e6), ``final_rank ≤ 10`` per query by (rrf desc, doc_id).
    """
    from .text_analysis import quality_scores

    bm = bm25_topk(docs, queries, top_k=20)
    cands = bm.select(
        "query_id", "doc_id", F.col("rank").alias("text_rank")
    )
    qual = quality_scores(docs).select(
        "doc_id", "quality", "distinct_ratio_e6"
    )
    j = cands.join(qual, "doc_id")
    prior_w = Window.partitionBy("query_id").orderBy(
        F.desc("quality"), F.desc("distinct_ratio_e6"), F.col("doc_id")
    )
    scored = j.select(
        "query_id",
        "doc_id",
        "text_rank",
        F.row_number().over(prior_w).cast("long").alias("prior_rank"),
    ).select(
        "query_id",
        "doc_id",
        "text_rank",
        "prior_rank",
        F.expr(
            "1000000L div (60 + text_rank)"
            " + 1000000L div (60 + prior_rank)"
        ).alias("rrf_e6"),
    )
    final_w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_e6"), F.col("doc_id")
    )
    return (
        scored.withColumn(
            "final_rank", F.row_number().over(final_w).cast("long")
        )
        .filter(F.col("final_rank") <= 10)
        .select(
            "query_id", "final_rank", "doc_id",
            "text_rank", "prior_rank", "rrf_e6",
        )
    )


def index_shard_balance(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Term→shard assignment balance under rendezvous (highest-random-
    weight) hashing — the serving-side question after the index is
    built: does the partitioning scheme spread terms AND posting mass
    evenly, and does it stay stable when a shard is added (rendezvous'
    defining property vs mod-hashing: only ~1/K of keys move)?

    Assignment: ``shard(t) = argmax_s md5(t ‖ ':' ‖ s)`` — hex md5
    strings compare identically as ASCII on both engines, so the
    argmax (via array_position of the array max) is engine-exact with
    no float weights.  The argmax runs as a native higher-order
    expression over a constant K-element array, fused into the term
    scan — no per-shard row fan-out.

    Scale shape: one (term, df) relation (the inverted index's own
    aggregate), one narrow projection computing the shard id, ONE hash
    aggregate to K rows.  Skew cannot exist on the output key by
    construction (K constant); the input key skew (stopword df) is
    already collapsed to one row per term.

    Output: (shard, n_terms, n_postings) — one row per shard.
    """
    tf = term_frequencies(docs)
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weights = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda s: F.md5(
            F.concat(F.col("term"), F.lit(":"), s.cast("string"))
        ),
    )
    shard = (
        F.array_position(weights, F.array_max(weights)) - 1
    ).cast("long")
    return (
        dfr.select(shard.alias("shard"), "df")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("n_postings"),
        )
        .select(
            "shard",
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("n_postings").cast("long").alias("n_postings"),
        )
    )


def inverted_index(
    docs: DataFrame, min_df: int = 2, top_postings: int = 16
) -> DataFrame:
    """Build the inverted index: per term, exact df / total tf and the
    posting sample of the ``top_postings`` smallest document ids in
    ascending order (deterministic, merge-friendly — real shards
    concatenate sorted runs).

    Output: (term, df, tf_total, postings: array<bigint>).
    """
    tf = term_frequencies(docs)
    by_term = Window.partitionBy("term")
    ordered = by_term.orderBy("doc_id")
    stats = tf.select(
        "term",
        "doc_id",
        "tf",
        F.row_number().over(ordered).alias("_rk"),
        F.count("*").over(by_term).alias("df"),
        F.sum("tf").over(by_term).alias("tf_total"),
    )
    return (
        stats.filter(
            (F.col("_rk") <= top_postings) & (F.col("df") >= min_df)
        )
        .groupBy("term")
        .agg(
            F.first("df").alias("df"),
            F.first("tf_total").alias("tf_total"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
    )
