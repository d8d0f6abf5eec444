"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus is never trained on whole: the standard preprocessing
step caps each stratum (language, source, domain) at a budget, drawn
uniformly but REPRODUCIBLY so reruns and incremental rebuilds select
the same documents. Hash-ordering (md5 of the id) gives exactly that —
a seedable uniform permutation both engines can reproduce bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import materialize, scoped
from .scale import spread_small_scan


def stratified_sample(
    docs: DataFrame,
    n_per_group: int = 50,
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt_parts: int = 0,
) -> DataFrame:
    """(group, doc_id, sample_rank): at most ``n_per_group`` docs per
    stratum, drawn by md5-hash order of the id (deterministic uniform
    draw; ties — impossible in practice — break on the id itself).

    Skew posture: a plain ``row_number`` window shuffles every row of a
    stratum into ONE partition — a mega-stratum (one language dominating
    the crawl) serializes there. With ``salt_parts=S`` the operator runs
    the standard two-phase top-N: per-(group, salt) local top-N first
    (S ways parallel, each emitting ≤ N rows), then the global window
    over ≤ N·S survivors per group. Output is IDENTICAL (the global
    top-N of a union of per-salt top-Ns is the global top-N); only the
    plan changes. Default 0 keeps the single-window plan for
    small-stratum corpora.
    """
    key = F.md5(F.col(id_col).cast("string"))
    src = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc_id"),
        key.alias("_k"),
    )
    if salt_parts > 1:
        w1 = Window.partitionBy("grp", "_s").orderBy("_k", "doc_id")
        src = (
            src.withColumn(
                "_s", F.pmod(F.hash(F.col("doc_id")), F.lit(salt_parts))
            )
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= n_per_group)
            .drop("_s", "_r1")
        )
    w = Window.partitionBy("grp").orderBy("_k", "doc_id")
    return (
        src.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_group)
        .select(
            F.col("grp").alias(group_col), "doc_id", "sample_rank"
        )
    )


def mixture_resample(
    docs: DataFrame,
    cell_cols: tuple[str, str] = ("lang", "source"),
    target_ppm: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture resampling: downsample each corpus cell
    (default (lang, source)) toward a target share distribution —
    the action that `corpus_mixture`'s report feeds. With no
    ``target_ppm`` the target is UNIFORM across observed cells
    ("balance the corpus"); pass a (cell..., target_ppm) frame for an
    explicit recipe (ppm of the corpus each cell should hold).

    Per-cell acceptance rate (integer ppm — no float in the decision):
        accept_ppm = min(1e6, target_docs_cell * 1e6 // n_docs_cell)
    where target_docs_cell = total_docs * target_share. Cells under
    their target keep everything (no upsampling — duplication is a
    training-recipe decision, not a sampling one); cells over it are
    thinned by a reproducible md5 draw on the document id, so reruns
    and incremental rebuilds keep the SAME documents.

    Returns (doc_id, *cell_cols, draw_ppm, accept_ppm, accepted).

    Scale shape: one hash aggregate for cell counts (map-side partial),
    one 1-row total, both broadcast back onto the corpus scan — the
    corpus itself is touched once with no shuffle. The draw is
    conv(md5)-based, bit-equal across engines.
    """
    a, b = cell_cols
    d = docs.select(F.col(id_col).alias("doc_id"), a, b)
    counts = d.groupBy(a, b).agg(F.count(F.lit(1)).alias("_n_cell"))
    totals = counts.agg(
        F.sum("_n_cell").alias("_n_total"),
        F.count(F.lit(1)).alias("_n_cells"),
    )
    if target_ppm is None:
        # uniform share: target_docs_cell·1e6 = n_total·1e6 / n_cells —
        # pure INTEGER division so both engines agree to the last ppm
        cells = counts.join(F.broadcast(totals)).select(
            a, b, "_n_cell",
            F.expr("(_n_total * 1000000L) div _n_cells")
            .alias("_target_e6"),
        )
    else:
        cells = (
            counts.join(F.broadcast(target_ppm), [a, b], "left")
            .join(F.broadcast(totals))
            .select(
                a, b, "_n_cell",
                (F.col("_n_total")
                 * F.coalesce(F.col("target_ppm"), F.lit(0)))
                .cast("long").alias("_target_e6"),
            )
        )
    cells = cells.select(
        a, b,
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr("_target_e6 div _n_cell"),
        ).alias("accept_ppm"),
    )
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long") % 1_000_000
    )
    return (
        d.join(F.broadcast(cells), [a, b])
        .select(
            "doc_id", a, b,
            draw.alias("draw_ppm"),
            "accept_ppm",
            (draw < F.col("accept_ppm")).alias("accepted"),
        )
    )


@scoped
def dsir_weights(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score each raw document by how much its hashed unigram+bigram
    distribution looks like a TARGET domain (here: the rows matching
    ``target_pred``, e.g. ``F.col('lang') == 'en'``), so a downstream
    sampler can resample the raw corpus toward the target.

    Per hash bucket ``b`` of ``n_buckets``: Laplace-smoothed
    probabilities ``p_t(b) = (c_t(b)+1)/(T_t+B)`` over the target slice
    and ``p_r(b)`` over the full corpus; per document, the importance
    weight is ``Σ_grams log(p_t/p_r)`` with multiplicity.

    Float discipline: the log-ratio is computed ONCE per bucket and
    floored to integer micro-units (``floor(1e6·ln(x))`` as BIGINT);
    the per-document weight is then an INTEGER sum of those micro-units
    — order-independent, so Spark and DuckDB hash identically (a
    double sum would depend on reduction order).

    Output: (doc_id, n_grams, weight_e6 BIGINT).

    Scale shape: the gram stream aggregates once per side on ``bucket``
    (map-side partial combine) into exactly ``n_buckets`` rows each —
    the joined per-bucket stats relation is BOUNDED BY CONSTRUCTION at
    ``n_buckets`` rows regardless of corpus size, so broadcasting it is
    safe at 100 TB (unlike a vocabulary relation); the only other
    exchange is the final per-doc sum, which reuses the corpus's
    ``doc_id`` partitioning. Target and raw counts come from ONE
    conditional aggregate (``sum(is_target)``) rather than two slice
    scans; the physical plan still reads the corpus twice (once for the
    bucket stats, once for the weighting join) — at 10^12 docs that is
    the right trade (the alternative, materializing the gram stream, is
    corpus-sized), and reruns can checkpoint the 1024-row stats
    relation to skip the first pass entirely.
    """
    B = n_buckets
    # Round 6: unigram+bigram hashing as ONE Arrow kernel over the
    # native token split instead of the interpreted zip_with/explode
    # chain + per-gram md5 expression (HOFs do not whole-stage-codegen;
    # the gram→bucket projection alone measured 8.6 s of the 9 s query
    # wall at sf1.0 — guide §4.2). All-integer: the bucket is
    # int(md5_hex[:8], 16) % B, exactly conv(substring(md5,1,8),16,10)
    # pmod B — no floats, so bit-identity is by construction (DuckDB
    # oracle pins it). The kernel emits bucket ids only — the gram
    # string never leaves the Python worker, a strictly narrower
    # Arrow transfer than the exploded gram stream.
    import hashlib

    from pyspark.sql.functions import pandas_udf

    docs = spread_small_scan(docs, id_col)

    @pandas_udf("array<int>")
    def _buckets(texts: pd.Series) -> pd.Series:
        import re as _re

        ws = _re.compile(r"[ \t\n\r\f\x0b]+")
        cache: dict[str, int] = {}

        def bucket(g: str) -> int:
            b = cache.get(g)
            if b is None:
                b = int(
                    hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16
                ) % B
                cache[g] = b
            return b

        def one(t):
            toks = [w for w in ws.sub(" ", t or "").strip(" ").split(" ")
                    if w]
            out = [bucket(w) for w in toks]
            prev = None
            for w in toks:
                if prev is not None:
                    out.append(bucket(prev + " " + w))
                prev = w
            return out

        return texts.map(one)

    tokenized = docs.select(
        F.col(id_col).alias("doc_id"),
        target_pred.cast("boolean").alias("_is_target"),
        _buckets(F.col(text_col)).alias("_bk"),
    )
    # explode_outer + a filter on the generated column, not explode:
    # for an inner explode Catalyst infers ``size(_bk) > 0`` and pushes
    # it below the spread exchange, which evaluates ``_buckets`` a
    # second time on the one unspread scan task. A filter on the
    # generated column cannot pass the Generate.
    grams = tokenized.select(
        "doc_id", "_is_target",
        F.explode_outer("_bk").alias("bucket"),
    ).filter(F.col("bucket").isNotNull())
    # Project the gram stream down to its 17-byte decision columns and
    # persist: both consumers (per-bucket stats, per-doc weighting)
    # derive from the SAME md5 gram scan, which previously re-ran once
    # per branch — the dominant map cost (guide §2.3 "shuffle keys and
    # metadata instead of payloads", §8 "decide with small rows"). The
    # projection is map-only (no extra exchange; both aggregates below
    # keep their map-side partial combine) and drops the gram string
    # before the cache. At cluster scale write this relation to a temp
    # table instead.
    gb = materialize(grams.select("doc_id", "_is_target", "bucket"), "persist")
    stats = gb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("_cr"),
        F.sum(F.col("_is_target").cast("long")).alias("_ct"),
    )
    # Corpus totals via a whole-frame window over the 1024-row stats
    # relation — NOT a separate stats.agg() + cross join, which would
    # make Catalyst re-execute the (corpus-sized) gram aggregation
    # subtree a second time; the window is a single-partition pass over
    # n_buckets rows, so the grams are scanned exactly once per side.
    w = Window.partitionBy()
    tr = F.sum("_cr").over(w)
    tt = F.sum("_ct").over(w)
    # log-ratio in one association on both engines:
    # ln( ((ct+1)*(tr+B)) / ((cr+1)*(tt+B)) ), floored to micro-units.
    ratio = (
        (F.col("_ct") + 1).cast("double") * (tr + B).cast("double")
    ) / (
        (F.col("_cr") + 1).cast("double") * (tt + B).cast("double")
    )
    bucket_w = stats.select(
        "bucket",
        F.floor(F.log(ratio) * 1e6).cast("long").alias("_w_e6"),
    )
    return (
        gb.join(F.broadcast(bucket_w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("_w_e6").alias("weight_e6"),
        )
        .select("doc_id", "n_grams", "weight_e6")
    )


def sequence_pack(
    docs: DataFrame,
    chunk_tokens: int = 512,
    strata: tuple = ("lang", "source"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style sequence packing (concat-then-chunk): within each
    stratum, concatenate documents in ``doc_id`` order and cut the
    token stream into fixed ``chunk_tokens`` windows; report where each
    document lands — (doc_id, <strata>, n_tokens, start_pack,
    start_offset, n_chunks).  ``n_chunks`` is how many training windows
    the document spans (0 for empty documents); documents DO straddle
    chunk boundaries, which is exactly the GPT-2/3 packing semantics
    (no padding, no document-boundary realignment).

    All arithmetic is integer (cumulative BIGINT sums + integral DIV),
    so Spark and DuckDB agree exactly at any corpus size — no
    double-precision division on token offsets, which would silently
    lose exactness past 2^53 total tokens (a 100 TB corpus is ~10^13
    tokens; the failure is real, not theoretical).

    Scale shape: ONE shuffle on the stratum key; the running sum is
    computed independently per stratum, so strata parallelize across
    the cluster.  A single stratum's cumsum is sequential within its
    partition — for mega-strata (one language dominating a 10^12-doc
    corpus), pre-shard the stratum by doc_id range, run this per
    shard, and offset each shard's packs by the previous shards' total
    token count (a 2-phase scan; the per-shard totals relation is tiny).
    """
    docs = spread_small_scan(docs, id_col)
    L = chunk_tokens
    toks = F.split(
        F.trim(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")),
                                r"[ \t\n\r\f\x0b]+", " ")),
        " ",
    )
    n_tokens = F.size(F.filter(toks, lambda x: F.length(x) > 0))
    w = (
        Window.partitionBy(*strata)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), *strata,
        n_tokens.cast("long").alias("n_tokens"),
    ).withColumn("_cum_end", F.sum("n_tokens").over(w))
    return base.select(
        "doc_id", *strata, "n_tokens",
        F.expr(f"(_cum_end - n_tokens) DIV {L}").alias("start_pack"),
        F.expr(f"(_cum_end - n_tokens) % {L}").alias("start_offset"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(f"(_cum_end - 1) DIV {L}")
            - F.expr(f"(_cum_end - n_tokens) DIV {L}") + 1
        )
        .alias("n_chunks"),
    )


def temperature_mixture(
    docs: DataFrame,
    alpha: float = 0.3,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """XLM-style temperature-sampling mixture (Conneau & Lample 2019):
    re-weight each group's corpus share p_g to q_g ∝ p_g^alpha
    (alpha < 1 flattens the distribution toward low-resource groups —
    the standard multilingual-LM sampling recipe). Output
    (group, n_docs, share_ppm, temp_share_ppm); ``temp_share_ppm`` uses
    the same integer-ppm convention :func:`mixture_resample` consumes —
    distribute a group's share across its (group, source) cells (e.g.
    proportionally to observed cell counts) to feed it directly.

    Float discipline: the only float op is the per-group ``pow``,
    immediately floored to integer nano-units (``floor(1e9·p^alpha)``);
    the normalization Σ and the ppm shares are pure BIGINT arithmetic —
    order-independent, so Spark and DuckDB agree exactly (a double
    softmax would drift with summation order). At the e9 scale a 1-ulp
    ``pow`` divergence moves the floored value only with ~1e-7
    probability per group.

    Scale shape: one hash aggregate to group counts (map-side combine);
    the group relation is bounded by the number of groups (languages:
    dozens), so the whole-frame window over it is a single tiny
    partition — the corpus is scanned exactly once."""
    counts = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy()
    total = F.sum("n_docs").over(w)
    p = F.col("n_docs").cast("double") / total.cast("double")
    w_e9 = F.floor(F.pow(p, F.lit(alpha)) * 1e9).cast("long")
    staged = counts.select(
        "grp", "n_docs",
        F.expr("n_docs * 1000000L").alias("_n_e6"),
        total.alias("_total"),
        w_e9.alias("_w_e9"),
    ).select(
        "grp", "n_docs",
        F.expr("_n_e6 div _total").alias("share_ppm"),
        F.col("_w_e9"),
        F.sum("_w_e9").over(w).alias("_w_sum"),
    )
    return staged.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "share_ppm",
        F.expr("(_w_e9 * 1000000L) div _w_sum").alias("temp_share_ppm"),
    )


@scoped
def budget_select(
    docs: DataFrame,
    budget_ppm: int = 250_000,
    bucket_width_e6: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget corpus selection: admit the highest-quality prefix
    of the corpus whose cumulative token count fits a budget of
    ``budget_ppm`` parts-per-million of the TOTAL corpus tokens — the
    "keep the best 25%" step every pretraining recipe ends with.

    Semantics (the contract both engines implement): order documents by
    (score_e6 DESC, doc_id ASC) and admit every document whose
    INCLUSIVE running token sum is ≤ budget.  The score is an
    all-integer quality signal — distinct-token ratio plus
    alphanumeric-character ratio, each in exact integer millionths
    (``x*1000000 div y`` — no floats anywhere, so cross-engine hashes
    cannot drift).

    Scale shape — the point of this operator: the obvious plan (global
    sort by score + running-total window) range-shuffles the ENTIRE
    corpus through one total order; at 10^12 documents that sort is the
    job.  Instead we run the classic two-pass histogram threshold:

    1. one narrow pass computes per-doc (n_tokens, score_e6) and
       hash-aggregates token mass into score BUCKETS of width
       ``bucket_width_e6`` — the histogram is ≤ 2e6/width + 1 rows
       (default 201) BY CONSTRUCTION, independent of corpus size;
    2. a whole-frame window over that tiny relation (one partition of
       ≤201 rows — deliberately fine) finds the cut: buckets strictly
       above the threshold are admitted outright, exactly ONE boundary
       bucket is partially admitted with its residual budget;
    3. the per-bucket verdicts broadcast back onto the corpus
       (bounded relation — genuinely safe, unlike a vocabulary) and
       only the BOUNDARY bucket's docs (≈ 1/n_buckets of the corpus)
       pay a row_number/cumsum window, partitioned by bucket.

    Bucket order is consistent with the global order because buckets
    partition the score range: every doc in a higher bucket outscores
    every doc in a lower one, and the within-boundary window uses the
    same (score_e6 DESC, doc_id) tie-break.  Output is therefore
    IDENTICAL to the global-sort plan; only the shuffle is ~1/201 the
    size.  The per-doc stats pass is recomputed for step 3 (two corpus
    scans) — at scale that beats materializing a total order, and a
    rerun can checkpoint the histogram to skip pass 1.

    Output: (doc_id, n_tokens, score_e6) of admitted documents.
    """
    docs = spread_small_scan(docs, id_col)
    tk = F.filter(
        F.split(
            F.trim(F.regexp_replace(
                F.coalesce(F.col(text_col), F.lit("")),
                r"[ \t\n\r\f\x0b]+", " ")),
            " ",
        ),
        lambda w: F.length(w) > 0,
    )
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        tk.alias("_tk"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_txt"),
    ).select(
        "doc_id",
        F.size("_tk").cast("long").alias("n_tokens"),
        (
            F.coalesce(
                F.expr(
                    "size(array_distinct(_tk)) * 1000000L"
                    " div nullif(size(_tk), 0)"
                ),
                F.lit(0),
            )
            + F.coalesce(
                F.expr(
                    "length(regexp_replace(_txt, '[^a-zA-Z0-9 ]', ''))"
                    " * 1000000L div nullif(length(_txt), 0)"
                ),
                F.lit(0),
            )
        ).cast("long").alias("score_e6"),
    ).withColumn(
        "_bucket", F.expr(f"score_e6 div {int(bucket_width_e6)}L")
    )
    # The per-doc stats relation feeds three branches (histogram, full
    # buckets, boundary bucket); persist the narrow (doc_id, n_tokens,
    # score_e6, _bucket) proxy so the tokenize + distinct + regexp scan
    # runs once instead of once per branch (guide §8 "decide with small
    # rows" — 4 integers/doc). At cluster scale checkpoint it to a temp
    # table instead.
    per_doc = materialize(per_doc, "persist")

    hist = per_doc.groupBy("_bucket").agg(
        F.sum("n_tokens").alias("_mass")
    )
    w_desc = (
        Window.partitionBy()
        .orderBy(F.col("_bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    annot = hist.select(
        "_bucket", "_mass",
        F.expr(f"sum(_mass) over () * {int(budget_ppm)}L div 1000000L")
        .alias("_budget"),
        (F.sum("_mass").over(w_desc) - F.col("_mass")).alias("_before"),
    ).select(
        "_bucket",
        (F.col("_before") + F.col("_mass") <= F.col("_budget"))
        .alias("_full"),
        # Raw (possibly negative) residual: a bucket whose preceding
        # mass already exceeds the budget must admit NOTHING — not even
        # zero-token docs — while a bucket that starts exactly at the
        # budget still admits zero-token prefixes (cum 0 <= 0), matching
        # the global inclusive-cumsum contract. Clamping to 0 would
        # conflate the two.
        (F.col("_budget") - F.col("_before")).alias("_residual"),
    )
    joined = per_doc.join(F.broadcast(annot), "_bucket")
    full = joined.filter(F.col("_full")).select(
        "doc_id", "n_tokens", "score_e6"
    )
    w_bound = (
        Window.partitionBy("_bucket")
        .orderBy(F.col("score_e6").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        joined.filter(~F.col("_full") & (F.col("_residual") >= 0))
        .withColumn("_cum", F.sum("n_tokens").over(w_bound))
        .filter(F.col("_cum") <= F.col("_residual"))
        .select("doc_id", "n_tokens", "score_e6")
    )
    return full.unionByName(boundary)
