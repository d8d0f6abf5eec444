"""Text-analysis operators: token stats, quality scoring, language-ID,
fingerprinting. All native column expressions (whole-stage codegen) —
each has a DuckDB-SQL mirror in the driver contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .dedup import materialize, normalized_text, scoped
from .scale import spread_small_scan

# Deterministic English stopword list (inlined — heuristic language-ID /
# quality cue; not the reference wordlists, which stay the IGT features').
EN_STOPWORDS = [
    "the", "a", "an", "of", "to", "in", "and", "is", "are", "was", "were",
    "that", "this", "it", "for", "on", "with", "as", "by", "at", "from",
    "or", "be", "not", "but", "we", "you", "they", "he", "she", "have",
]


# Explicit whitespace class for tokenization. Java \s ≡ [ \t\n\x0B\f\r],
# but RE2 (DuckDB) \s omits \x0b — spelling the class out keeps the Spark
# kernels and the DuckDB oracle mirrors in exact agreement on texts
# containing a vertical tab. Keep WS_CLASS and the oracle SQL in sync.
WS_CLASS = r"[ \t\n\r\f\x0b]+"


def _tokens(text_col):
    return F.split(F.trim(F.regexp_replace(text_col, WS_CLASS, " ")), " ")


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, n_chars, sum_token_len,
    avg_token_len).  ``sum_token_len`` is the EXACT integer character
    sum — consumers needing a cross-engine-stable fixed-point average
    must derive it from the integer sum in the same operation order as
    their oracle (``floor(sum·1e6/n)`` ≠ ``floor((sum/n)·1e6)`` in
    IEEE doubles: 41/10 → 4099999 vs 4100000 — the round-6 sf0.1
    token_stats hash miss)."""
    docs = spread_small_scan(docs, "doc_id")
    toks = _tokens(F.col("text"))
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars"),
        sum_len.alias("sum_token_len"),
        (sum_len / F.size(toks)).alias("avg_token_len"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, distinct_ratio, stopword_hits, alnum_ratio,
    quality): deterministic quality heuristics — length, vocabulary
    diversity, stopword coverage, punctuation density.

    Round 6: one Arrow kernel per batch instead of the interpreted
    array_distinct/array_intersect higher-order chain (HOFs do not
    whole-stage-codegen — guide §4.2; 1.9 → 0.5 s at sf1.0).  Bit-exact
    replication of the expression semantics: the identical ASCII
    whitespace class and space-only trim, distinct counts as exact
    integers, the same IEEE double sequence per ratio (one divide, one
    ×1e6, one floor), try_divide's NULL on empty text, and NULL text →
    NULL metrics with quality 0 (every ``when`` branch falls through).
    The stopword intersection runs over tokens of the NATIVELY lowered
    text (passed as a second kernel input — Java and Python lower()
    disagree outside ASCII), exactly as the expression form did."""
    import math
    import re as _re

    docs = spread_small_scan(docs, "doc_id")
    sw_set = frozenset(EN_STOPWORDS)

    @pandas_udf(
        "struct<n_tokens:int,distinct_ratio_e6:bigint,stopword_hits:int,"
        "alnum_ratio_e6:bigint,quality:int>"
    )
    def _quality(texts: pd.Series, lowered: pd.Series) -> pd.DataFrame:
        ws = _re.compile(WS_CLASS)
        non_alnum = _re.compile("[^a-zA-Z0-9 ]")
        floor = math.floor
        rows = {k: [] for k in (
            "n_tokens", "distinct_ratio_e6", "stopword_hits",
            "alnum_ratio_e6", "quality",
        )}
        ap = {k: rows[k].append for k in rows}
        for t, lt in zip(texts, lowered):
            if t is None:
                ap["n_tokens"](None)
                ap["distinct_ratio_e6"](None)
                ap["stopword_hits"](None)
                ap["alnum_ratio_e6"](None)
                ap["quality"](0)
                continue
            toks = ws.sub(" ", t).strip(" ").split(" ")
            n = len(toks)
            ratio = len(set(toks)) / n
            lt_toks = ws.sub(" ", lt).strip(" ").split(" ")
            hits = len(frozenset(lt_toks) & sw_set)
            nc = len(t)
            alnum = (len(non_alnum.sub("", t)) / nc) if nc else None
            q = (
                (1 if n >= 20 else 0)
                + (1 if ratio >= 0.3 else 0)
                + (1 if hits >= 2 else 0)
                + (1 if alnum is not None and alnum >= 0.8 else 0)
            )
            ap["n_tokens"](n)
            ap["distinct_ratio_e6"](floor(ratio * 1e6))
            ap["stopword_hits"](hits)
            ap["alnum_ratio_e6"](
                floor(alnum * 1e6) if alnum is not None else None
            )
            ap["quality"](q)
        return pd.DataFrame(rows)

    t = F.col("text")
    q = _quality(t, F.lower(t))
    return docs.select(
        "doc_id", q.alias("_q")
    ).select(
        "doc_id", "_q.n_tokens", "_q.distinct_ratio_e6",
        "_q.stopword_hits", "_q.alnum_ratio_e6", "_q.quality",
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, sw_hits, pred_lang): heuristic language-ID — English
    stopword coverage + script detection (the n-gram-scoring shape of the
    reference's wordlist features, over web text)."""
    docs = spread_small_scan(docs, "doc_id")
    t = F.col("text")
    lower_toks = _tokens(F.lower(t))
    sw = F.array([F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.array_intersect(F.array_distinct(lower_toks), sw))
    has_cyr = t.rlike("[Ѐ-ӿ]")
    has_cjk = t.rlike("[一-鿿぀-ヿ]")
    has_kor = t.rlike("[가-힣]")
    pred = (
        F.when(has_kor, F.lit("ko"))
        .when(has_cjk, F.lit("ja"))
        .when(has_cyr, F.lit("ru"))
        .when(hits >= 2, F.lit("en"))
        .otherwise(F.lit("und"))
    )
    return docs.select(
        "doc_id",
        hits.alias("sw_hits"),
        pred.alias("pred_lang"),
    )


# GPT-2-style pre-tokenizer shape, restricted to constructs RE2 (DuckDB),
# java.util.regex (Spark) and Python re evaluate identically: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs. No
# lookarounds (RE2 has none), and NO \s shorthand — the three engines
# disagree on \x0b and unicode spaces, so whitespace is an explicit class.
BPE_SPLIT_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \t\n\r\f\x0b']+"
)


def subword_token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_subwords, n_distinct_subwords, n_ws_tokens,
    subwords_per_ws_token_e6): BPE-ish subword counting — the
    pre-tokenizer split every byte-pair encoder starts from, as a native
    ``regexp_extract_all`` (JVM, codegen) over lowercased text. The
    subwords-per-whitespace-token ratio is the standard "fertility" cost
    signal for training-data budgeting. NULL text behaves as empty."""
    docs = spread_small_scan(docs, "doc_id")
    t = F.lower(F.coalesce(F.col("text"), F.lit("")))
    pieces = F.regexp_extract_all(t, F.lit(BPE_SPLIT_RE), F.lit(0))
    ws = _tokens(t)
    n_sub = F.size(pieces)
    n_ws = F.size(ws)
    return docs.select(
        "doc_id",
        n_sub.alias("n_subwords"),
        F.size(F.array_distinct(pieces)).alias("n_distinct_subwords"),
        n_ws.alias("n_ws_tokens"),
        F.floor(n_sub * F.lit(1e6) / n_ws).cast("long")
        .alias("subwords_per_ws_token_e6"),
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): md5 over normalized text — the document-
    fingerprinting primitive (also the exact-dedup key)."""
    return docs.select(
        "doc_id",
        F.md5(normalized_text(F.col("text"))).alias("fingerprint"),
    )


# Rolling-hash winnowing constants: polynomial base/modulus chosen so
# every intermediate stays exact in 64-bit signed integers on BOTH
# engines (codepoint < 2^21, B^j mod P < 2^30, per-term product < 2^51,
# k-term sum < 2^54).
WINNOW_BASE = 257
WINNOW_MOD = 1_000_000_007


def winnow_batch(texts: pd.Series) -> pd.DataFrame:
    """The winnowing kernel over one Arrow batch of (already normalized)
    texts. Fully vectorized per doc: codepoints come from one
    ``np.frombuffer`` over the utf-32-le encoding (no per-char Python
    loop), the k-term rolling hash and the sliding-window minima are k
    resp. window strided numpy passes. Module-level so it is directly
    callable on a pandas Series and pinnable in tests."""
    import hashlib

    k, window = 5, 4  # chars per gram, hashes per window
    n_grams_out, n_sel_out, sig_out = [], [], []
    powers = np.array(
        [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)],
        dtype=np.int64,
    )
    for t in texts.fillna(""):
        if len(t) < k:
            n_grams_out.append(0)
            n_sel_out.append(0)
            sig_out.append(hashlib.md5(b"").hexdigest())
            continue
        # utf-32-le: 4 bytes per code point == vectorized ord()
        cp = np.frombuffer(
            t.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        n = len(cp) - k + 1
        # one modulo at the end: per-term products < 2^51 and the k-term
        # sum < 2^54 stay exact in int64 (constants chosen for this)
        h = np.zeros(n, dtype=np.int64)
        for j in range(k):
            h += cp[j:j + n] * powers[j]
        h %= WINNOW_MOD
        if n >= window:
            mins = h[:n - window + 1].copy()
            for j in range(1, window):
                np.minimum(mins, h[j:j + n - window + 1], out=mins)
        else:
            mins = np.array([h.min()], dtype=np.int64)
        sel = np.unique(mins)
        n_grams_out.append(n)
        n_sel_out.append(len(sel))
        # list-repr join: str(list) renders all ints in one C call —
        # '[1, 23]' → '1,23' (values are nonnegative, no other commas)
        joined = str(sel.tolist())[1:-1].replace(", ", ",")
        sig_out.append(hashlib.md5(joined.encode()).hexdigest())
    return pd.DataFrame(
        {
            "n_grams": n_grams_out,
            "n_selected": n_sel_out,
            "winnow_sig": sig_out,
        }
    )


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_selected, winnow_sig): winnowing document
    fingerprints over a character rolling hash (the MOSS scheme:
    Schleimer/Wilkerson/Aiken 2003, SIGMOD — public algorithm).

    Per doc: polynomial rolling hash of every char 5-gram of the
    normalized text, minimum per sliding window of 4 hashes (guarantees
    a shared fingerprint for any match ≥ 8 chars),
    signature = md5 of the sorted distinct selected hashes. Pure integer
    math → the DuckDB oracle reproduces it bit-for-bit. One narrow Arrow
    kernel per doc (``winnow_batch``) after the spread."""
    docs = spread_small_scan(docs, "doc_id")

    @pandas_udf(
        "struct<n_grams: long, n_selected: long, winnow_sig: string>"
    )
    def _winnow(texts: pd.Series) -> pd.DataFrame:
        return winnow_batch(texts)

    w = _winnow(normalized_text(F.col("text")))
    return docs.select(
        "doc_id", w.alias("_w")
    ).select("doc_id", "_w.n_grams", "_w.n_selected", "_w.winnow_sig")


# ---------------------------------------------------------------------------
# Gopher-style repetition / structure filters
# ---------------------------------------------------------------------------

def gopher_filters(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, mean_word_len_e6, frac_alpha_e6, symbol_ratio_e6,
    top_bigram_frac_e6, gopher_pass): Gopher-style document quality
    gates — word-count bounds, mean word length in [3, 10], ≥80% words
    containing a letter, hash/ellipsis symbol ratio ≤ 0.1, and the
    repetition signal (fraction of word bigrams taken by the most
    frequent one). Zero shuffles: the per-doc bigram mode is the
    longest run of the sorted bigram array instead of an explode +
    groupBy (the relational shape the DuckDB oracle mirror uses — same
    value, different plan).

    ``gopher_pass`` is derived from the floored _e6 columns, not the raw
    doubles, so the flag is trivially cross-engine-stable. Ratios are
    NULL (not errors) on empty/NULL text via try_divide, matching
    DuckDB's x/0.

    Round 6: runs as one Arrow kernel per batch instead of the
    interpreted aggregate/filter/zip_with higher-order chain (HOFs do
    not whole-stage-codegen — guide §4.2; 6.4 s → ~2 s at sf1.0).
    Bit-exact replication of the expression semantics: the identical
    ASCII whitespace regex and space-only trim, counts and character
    sums as exact integers, the same IEEE double sequence for each
    ratio (one divide, the /3 ellipsis term, one ×1e6, one floor), and
    the mode of the sorted bigram array is the plain max run count —
    all pinned by the DuckDB oracle."""
    import math
    import re as _re

    docs = spread_small_scan(docs, "doc_id")
    mw, xw = 20, 100_000

    @pandas_udf(
        "struct<n_words:int,mean_word_len_e6:bigint,frac_alpha_e6:bigint,"
        "symbol_ratio_e6:bigint,top_bigram_frac_e6:bigint,"
        "gopher_pass:boolean>"
    )
    def _gopher(texts: pd.Series) -> pd.DataFrame:
        ws = _re.compile(WS_CLASS)
        alpha = _re.compile("[a-zA-Z]")
        rows = {k: [] for k in (
            "n_words", "mean_word_len_e6", "frac_alpha_e6",
            "symbol_ratio_e6", "top_bigram_frac_e6", "gopher_pass",
        )}
        e6 = lambda x: None if x is None else math.floor(x * 1e6)
        for t in texts:
            if t is None:
                for k in rows:
                    rows[k].append(None)
                continue
            toks = ws.sub(" ", t).strip(" ").split(" ")
            n = len(toks)
            mean_len = e6(sum(len(w) for w in toks) / n)
            fa = e6(sum(1 for w in toks if alpha.search(w)) / n)
            n_hash = len(t) - len(t.replace("#", ""))
            n_ell = (len(t) - len(t.replace("...", ""))) / 3
            sym = e6((n_hash + n_ell) / n)
            if n >= 2:
                cnt: dict[str, int] = {}
                prev = toks[0]
                for w in toks[1:]:
                    bg = prev + " " + w
                    cnt[bg] = cnt.get(bg, 0) + 1
                    prev = w
                top = e6(max(cnt.values()) / (n - 1))
            else:
                top = None
            rows["n_words"].append(n)
            rows["mean_word_len_e6"].append(mean_len)
            rows["frac_alpha_e6"].append(fa)
            rows["symbol_ratio_e6"].append(sym)
            rows["top_bigram_frac_e6"].append(top)
            rows["gopher_pass"].append(
                mw <= n <= xw
                and 3_000_000 <= mean_len <= 10_000_000
                and fa >= 800_000
                and sym <= 100_000
                and (top if top is not None else 0) <= 200_000
            )
        return pd.DataFrame({
            "n_words": pd.array(rows["n_words"], dtype="Int32"),
            "mean_word_len_e6": pd.array(rows["mean_word_len_e6"],
                                         dtype="Int64"),
            "frac_alpha_e6": pd.array(rows["frac_alpha_e6"], dtype="Int64"),
            "symbol_ratio_e6": pd.array(rows["symbol_ratio_e6"],
                                        dtype="Int64"),
            "top_bigram_frac_e6": pd.array(rows["top_bigram_frac_e6"],
                                           dtype="Int64"),
            "gopher_pass": pd.array(rows["gopher_pass"], dtype="boolean"),
        })

    return docs.select(
        "doc_id", _gopher(F.col("text")).alias("_g")
    ).select(
        "doc_id",
        F.col("_g.n_words").alias("n_words"),
        F.col("_g.mean_word_len_e6").alias("mean_word_len_e6"),
        F.col("_g.frac_alpha_e6").alias("frac_alpha_e6"),
        F.col("_g.symbol_ratio_e6").alias("symbol_ratio_e6"),
        F.col("_g.top_bigram_frac_e6").alias("top_bigram_frac_e6"),
        F.col("_g.gopher_pass").alias("gopher_pass"),
    )


def repetition_ratios(docs: DataFrame) -> DataFrame:
    """(doc_id, n_lines, dup_line_frac_e6, dup_line_char_frac_e6,
    top_bigram_char_frac_e6, top_trigram_char_frac_e6): the Gopher
    repetition-signal family (Rae et al. 2021 §A1.1) beyond the
    top-bigram COUNT fraction ``gopher_filters`` already gates on:

    - ``dup_line_frac``: fraction of non-empty trimmed lines that are
      2nd+ occurrences of a line already seen in the document;
    - ``dup_line_char_frac``: characters of those repeated occurrences
      over all line characters;
    - ``top_{bi,tri}gram_char_frac``: characters covered by the most
      frequent word n-gram (count × gram length, joining spaces
      included) over the normalized token stream's total characters —
      ties broken toward the lexicographically largest gram so the SQL
      mirror (ORDER BY cnt DESC, gram DESC LIMIT 1) agrees exactly.

    All ratios integer-e6 floored (cross-engine hash-stable), NULL on
    empty/short inputs via try_divide. Scale shape: every signal is a
    per-document batch kernel, so the operator is ZERO-shuffle — a
    pure scan-shaped job at any corpus size.

    Round 6: runs as one Arrow kernel per batch instead of the
    interpreted sorted-array run-length aggregates (higher-order
    functions do not whole-stage-codegen — guide §4.2; 10.1 s → ~2 s
    at sf1.0). Bit-exact replication: identical ASCII whitespace
    regex / space-only trim / newline split, all counts and character
    masses as exact integers, each ratio as ONE IEEE divide of those
    integers then ×1e6 and floor, and the top-gram tie-break toward
    the lexicographically largest gram (Python str ordering == UTF8
    binary ordering) — pinned by the DuckDB oracle."""
    import math
    import re as _re

    docs = spread_small_scan(docs, "doc_id")

    @pandas_udf(
        "struct<n_lines:int,dup_line_frac_e6:bigint,"
        "dup_line_char_frac_e6:bigint,top_bigram_char_frac_e6:bigint,"
        "top_trigram_char_frac_e6:bigint>"
    )
    def _rep(texts: pd.Series) -> pd.DataFrame:
        ws = _re.compile(WS_CLASS)
        cols = {k: [] for k in (
            "n_lines", "dup_line_frac_e6", "dup_line_char_frac_e6",
            "top_bigram_char_frac_e6", "top_trigram_char_frac_e6",
        )}

        def div_e6(a, b):
            # try_divide semantics: NULL on zero/NULL denominator; one
            # correctly-rounded IEEE divide then ×1e6 and floor.
            if not b:
                return None
            return math.floor(a / b * 1e6)

        def top_mass(toks, n, tok_chars):
            if len(toks) < n:
                return None
            cnt: dict[str, int] = {}
            for i in range(len(toks) - n + 1):
                g = " ".join(toks[i:i + n])
                cnt[g] = cnt.get(g, 0) + 1
            c, g = max(
                ((c, g) for g, c in cnt.items()),
            )
            return div_e6(c * len(g), tok_chars)

        for t in texts:
            if t is None:
                t = ""
            lines = [ln.strip(" ") for ln in t.split("\n")]
            lines = [ln for ln in lines if ln]
            n_lines = len(lines)
            tot_chars = sum(len(ln) for ln in lines)
            seen: dict[str, int] = {}
            dup_chars = 0
            for ln in lines:
                if ln in seen:
                    dup_chars += len(ln)
                else:
                    seen[ln] = 1
            toks = [w for w in ws.sub(" ", t).strip(" ").split(" ") if w]
            tok_chars = len(" ".join(toks))
            cols["n_lines"].append(n_lines)
            cols["dup_line_frac_e6"].append(
                div_e6(n_lines - len(seen), n_lines)
            )
            cols["dup_line_char_frac_e6"].append(
                div_e6(dup_chars, tot_chars)
            )
            cols["top_bigram_char_frac_e6"].append(
                top_mass(toks, 2, tok_chars)
            )
            cols["top_trigram_char_frac_e6"].append(
                top_mass(toks, 3, tok_chars)
            )
        return pd.DataFrame({
            "n_lines": pd.array(cols["n_lines"], dtype="Int32"),
            **{
                k: pd.array(cols[k], dtype="Int64")
                for k in (
                    "dup_line_frac_e6", "dup_line_char_frac_e6",
                    "top_bigram_char_frac_e6", "top_trigram_char_frac_e6",
                )
            },
        })

    return docs.select(
        "doc_id", _rep(F.col("text")).alias("_r")
    ).select(
        "doc_id",
        F.col("_r.n_lines").alias("n_lines"),
        F.col("_r.dup_line_frac_e6").alias("dup_line_frac_e6"),
        F.col("_r.dup_line_char_frac_e6").alias("dup_line_char_frac_e6"),
        F.col("_r.top_bigram_char_frac_e6").alias("top_bigram_char_frac_e6"),
        F.col("_r.top_trigram_char_frac_e6")
        .alias("top_trigram_char_frac_e6"),
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """CCNet/KenLM-style perplexity filtering without an external LM:
    score every document's negative log-likelihood under a Laplace-
    smoothed BIGRAM language model estimated from the corpus itself,
    then bucket into head/middle/tail — documents the corpus's own
    bigram statistics find surprising (boilerplate mashups, OCR noise,
    wrong-language fragments) land in the tail.

    Model: p(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V) with c1 the corpus
    unigram count, c2 the bigram count, V the distinct-unigram count
    (add-one smoothing over the observed vocabulary).

    Float discipline (the dsir_weights convention): the log-probability
    is computed ONCE per distinct bigram TYPE as
    ``floor(1e6·ln((c2+1)/(c1+V)))`` — the argument is an exact
    integer ratio, identical on both engines — and the per-document NLL
    is then an order-independent INTEGER sum of those micro-units.

    Scale shape: both count relations are VOCABULARY-sized (unigrams by
    Heaps' law, bigrams worse), so every join here is size-aware via
    ``operators/scale.py`` — broadcast only while twice the corpus's
    plan size (a sound upper bound: every gram's characters occur in the
    text, so gram-type bytes ≤ 2× corpus text bytes) fits the configured
    bound,
    else shuffle-hash on the gram key, which both sides already
    exchange on for their aggregates. The V scalar is a genuine 1-row
    broadcast. Documents with < 2 tokens have no bigrams and are not
    emitted (nothing to score).

    Output: (doc_id, n_bigrams, nll_e6, avg_nll_e6, ppl_bucket).
    Bucket thresholds are FIXED integers (they bracket the bench
    corpus's quartiles) so the output is deterministic; a
    production run would set them from measured NLL terciles the same
    way CCNet does with its Wikipedia LM.
    """
    from .scale import maybe_broadcast, plan_size_bytes

    corpus_bound_bytes = 2 * plan_size_bytes(docs)
    docs = spread_small_scan(docs, "doc_id")
    tk = F.filter(
        _tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))),
        lambda w: F.length(w) > 0,
    )
    # Tokenize once into a NAMED column; bigrams via zip_with over two
    # slices of that attribute (per-element lambda-trap discipline —
    # see PLANS.md).
    tokenized = docs.select(
        "doc_id", tk.alias("_tk")
    )
    col = F.col("_tk")
    uni = tokenized.select(F.explode(col).alias("term"))
    c1 = uni.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    vrel = c1.agg(F.count(F.lit(1)).alias("V"))

    # NOTE (round 6): building the pairs in an Arrow kernel
    # (array<struct<w1,w2>> per doc) was measured 2× SLOWER than this
    # interpreted zip_with (6.5 → 12.4 s at sf1.0) — per-pair Python
    # dict/struct construction outweighs the HOF overhead, and the
    # subtree runs in both consuming branches. Kept native.
    pairs = tokenized.filter(F.size(col) >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(col, 1, F.size(col) - 1),
                F.slice(col, 2, F.size(col) - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.w1").alias("w1"),
             F.col("_bg.w2").alias("w2"))

    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    rel = (
        c2.join(
            maybe_broadcast(
                c1.withColumnRenamed("term", "w1"),
                bound_bytes=corpus_bound_bytes,
            ),
            "w1",
        )
        .crossJoin(F.broadcast(vrel))
        .select(
            "w1", "w2",
            F.expr(
                "CAST(floor(ln(CAST(c2 + 1 AS DOUBLE)"
                " / CAST(c1 + V AS DOUBLE)) * 1e6) AS BIGINT)"
            ).alias("_w_e6"),
        )
    )
    scored = pairs.join(
        maybe_broadcast(rel, bound_bytes=corpus_bound_bytes), ["w1", "w2"]
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("_w_e6")).cast("long").alias("nll_e6"),
    ).withColumn(
        "avg_nll_e6", F.expr("nll_e6 div n_bigrams").cast("long")
    )
    # NOTE (round 6): a persisted per-(doc, bigram-type) proxy was
    # measured SLOWER here (5.8 → 8.0 s at sf1.0) — the pre-aggregate
    # shuffles the near-unique (doc, w1, w2) string keys corpus-wide,
    # while the two consumers of the raw stream are map-side-reduced
    # before any exchange, so re-running the cheap tokenize scan wins.
    # Re-tested with EAGER localCheckpoint (the shape that won for
    # nb_domain_scores, whose (doc, term) keys dedupe ~2×): still
    # slower (2.9 → 4.2 s) — bigram types barely repeat within a doc,
    # so the materialized relation is as big as the raw stream.
    return per_doc.select(
        "doc_id", "n_bigrams", "nll_e6", "avg_nll_e6",
        F.when(F.col("avg_nll_e6") < F.lit(3_390_000),
               F.lit("head"))
        .when(F.col("avg_nll_e6") < F.lit(3_420_000),
              F.lit("middle"))
        .otherwise(F.lit("tail")).alias("ppl_bucket"),
    )


@scoped
def nb_domain_scores(docs: DataFrame) -> DataFrame:
    """Weakly-supervised domain classification, DCLM/CCNet-style: train
    a multinomial Naive Bayes classifier on the corpus's OWN labels
    (``source``) and score every document — the standard trick
    for routing a mixed crawl into domain shards or flagging documents
    whose text disagrees with their provenance label.

    Model: argmax_l [ ln(D_l/D) + Σ_t tf(t)·ln p(t|l) ] with Laplace
    p(t|l) = (c(t,l)+1)/(T_l+V) over the GLOBAL vocabulary V, so unseen
    (term, label) pairs get the c=0 smoothing mass rather than being
    dropped — the grid relation is built vocabulary × labels complete.

    Float discipline (dsir convention): every log — per-(term,label)
    weight AND per-label prior — is floored to integer micro-units ONCE
    on the bounded relation; per-document scores are then integer sums
    of ``tf · w_e6``, order-independent and exact cross-engine.  The
    argmax tie-breaks toward the lexicographically smallest label.

    Scale shape: the token stream is first reduced to per-doc term
    FREQUENCIES (one aggregate, map-side combine) so the grid join
    multiplies doc-DISTINCT terms — not raw tokens — by L labels; the
    grid is vocabulary-sized × L, so that join is size-aware
    broadcast-XOR-shuffle (``operators/scale.py``).  The label relation
    (priors, per-label token totals) is bounded by the label count and
    genuinely broadcastable.  The final argmax window partitions by
    doc_id over exactly L rows per doc — no skew possible.

    Output: (doc_id, pred_label, score_e6, margin_e6) — margin is the
    gap to the runner-up label (0 when only one label exists).  Docs
    with zero tokens have nothing to score and are not emitted.
    """
    from pyspark.sql import Window

    from .scale import maybe_broadcast, plan_size_bytes

    corpus_bound_bytes = plan_size_bytes(docs)
    docs = spread_small_scan(docs, "doc_id")
    tk = F.filter(
        _tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))),
        lambda w: F.length(w) > 0,
    )
    tokenized = docs.select(
        "doc_id",
        F.col("source").alias("_lab"),
        tk.alias("_tk"),
    )
    stream = tokenized.select(
        "doc_id", "_lab", F.explode("_tk").alias("term")
    )
    # Round 6, two steps. (1) ONE explode+aggregate pass: the label is
    # functionally dependent on the doc, so grouping the token stream
    # by (doc, label, term) has exactly the (doc, term) cardinality —
    # ``tf`` is a projection of it and ``ctl = Σ_doc tf`` (integer
    # counts → bit-exact), where the original ran separate passes for
    # tf, vocab, T_l and ctl (4 explodes → 1; §2.4). (2) vocab, V and
    # T_l then all derive from the BOUNDED (term, label) relation
    # (§8 "decide with small rows"). EAGER localCheckpoints, not lazy
    # persists: three broadcast exchanges consume ctl concurrently and
    # a lazy cache stampedes (measured 8 → 23 s cold before the fix);
    # the earlier rejected "tf proxy" experiment differed in that it
    # lazily persisted the wide proxy and re-derived EVERY branch from
    # it — measured here: 5.3 → 4.0 s at sf1.0, value-identical.
    tfl = materialize(
        stream.groupBy("doc_id", "_lab", "term").agg(
            F.count(F.lit(1)).alias("tf")
        ),
        "local",
    )
    tf = tfl.select("doc_id", "term", "tf")
    ctl = materialize(
        tfl.groupBy("term", F.col("_lab").alias("label"))
        .agg(F.sum("tf").alias("ctl")),
        "local",
    )
    vocab = ctl.select("term").distinct()
    vrel = vocab.agg(F.count(F.lit(1)).alias("V"))
    labels = (
        tokenized.groupBy(F.col("_lab").alias("label"))
        .agg(F.count(F.lit(1)).alias("D_l"))
        .crossJoin(
            F.broadcast(
                tokenized.agg(F.count(F.lit(1)).alias("D"))
            )
        )
        .join(
            F.broadcast(
                ctl.groupBy("label").agg(F.sum("ctl").alias("T_l"))
            ),
            "label",
        )
        .crossJoin(F.broadcast(vrel))
        .select(
            "label", "T_l", "V",
            F.expr(
                "CAST(floor(ln(CAST(D_l AS DOUBLE)"
                " / CAST(D AS DOUBLE)) * 1e6) AS BIGINT)"
            ).alias("prior_e6"),
        )
    )
    grid = (
        vocab.select("term")
        .crossJoin(F.broadcast(labels))
        .join(ctl, ["term", "label"], "left")
        .select(
            "term", "label", "prior_e6",
            F.expr(
                "CAST(floor(ln(CAST(coalesce(ctl, 0) + 1 AS DOUBLE)"
                " / CAST(T_l + V AS DOUBLE)) * 1e6) AS BIGINT)"
            ).alias("w_e6"),
        )
    )
    per_label = (
        tf.join(maybe_broadcast(grid, bound_bytes=corpus_bound_bytes),
                "term")
        .groupBy("doc_id", "label", "prior_e6")
        .agg(F.sum(F.expr("tf * w_e6")).alias("_tok_e6"))
        .select(
            "doc_id", "label",
            (F.col("prior_e6") + F.col("_tok_e6")).cast("long")
            .alias("_score_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_score_e6").desc(), F.col("label")
    )
    ranked = per_label.select(
        "doc_id", "label", "_score_e6",
        F.row_number().over(w).alias("_rn"),
        F.lead("_score_e6").over(w).alias("_next"),
    )
    return ranked.filter(F.col("_rn") == 1).select(
        "doc_id",
        F.col("label").alias("pred_label"),
        F.col("_score_e6").alias("score_e6"),
        (F.col("_score_e6") - F.coalesce(F.col("_next"),
                                         F.col("_score_e6")))
        .cast("long").alias("margin_e6"),
    )


# ---------------------------------------------------------------------------
# Bad-words blocklist gate (C4 §2.2 "dirty words" page filter)
# ---------------------------------------------------------------------------

#: Deterministic stand-in for the C4 blocklist (the real list is an
#: external resource; the gate's mechanics are identical for any list).
#: "dup" hits ~5% of the driver corpus so both branches are graded;
#: the other two never occur (the common case for a real blocklist).
BLOCKLIST = ("dup", "lorem", "spam")


def blocklist_filter(docs: DataFrame) -> DataFrame:
    """C4-style bad-words page gate: a page is dropped when ANY token
    (lowercased, explicit-whitespace split — the Java∩RE2 class) is on
    the blocklist. Emits the evidence, not just the verdict: occurrence
    count and the sorted distinct matched words.

    Scale shape: zero shuffles — one narrow projection, whole-stage
    codegen (the blocklist is a constant array literal in the plan, no
    join at all; this is the degenerate-but-correct form of the
    size-aware lexicon join for lists that fit in the plan). The token
    array is materialized as a named column once, NOT re-evaluated
    inside the higher-order filter (the per-element lambda trap —
    BENCH/PLANS.md round 5).

    Output: (doc_id, n_bad, bad_words, kept).
    """
    docs = spread_small_scan(docs, "doc_id")
    bl = F.array(*[F.lit(w) for w in BLOCKLIST])
    toks = docs.select(
        "doc_id",
        _tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        .alias("_toks"),
    )
    return toks.select(
        "doc_id",
        F.size(
            F.filter(F.col("_toks"), lambda t: t.isin(*BLOCKLIST))
        ).cast("long").alias("n_bad"),
        F.array_sort(
            F.array_intersect(F.col("_toks"), bl)
        ).alias("bad_words"),
    ).withColumn("kept", F.col("n_bad") == 0)
