"""Deduplication operators for large-scale training-data pipelines.

Native DataFrame expressions where they win; minhash signatures and
simhash use one vectorized Arrow kernel each. Hashes are md5-based so
the DuckDB oracle can reproduce them bit-for-bit.

Scale notes (100 TB posture):
- exact dedup: one hash-aggregate on the fingerprint — map-side partial
  aggregation collapses duplicates before the shuffle.
- minhash/LSH: the whole signature (16 per-perm minima → band hashes) is
  ONE narrow Arrow kernel per doc — zero exchanges until the band
  self-join, which equi-joins near-uniform band-hash keys (no skew,
  bucketed not all-pairs). Candidate pairs are verified with exact
  Jaccard, standard MinHash-LSH shape.
- n-gram Jaccard self-join: quadratic in the worst case — guarded by
  frequent-shingle pruning (drop shingles shared by > max_df docs), the
  standard trick to keep the join sparse; the shingle relation is
  persisted because it feeds 4 plan branches.
- simhash: batch-vectorized (md5 per distinct token, unpackbits, per-doc
  gather+reduce for the ±1 sums) — no per-token×per-bit Python.
"""

from __future__ import annotations

import functools
import hashlib
from contextvars import ContextVar

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .scale import spread_small_scan

NORM_PATTERN = "[^a-z0-9 ]+"


# ---------------------------------------------------------------------------
# Materialized relations and their release
# ---------------------------------------------------------------------------

# One handle list per open ``scoped`` call, outermost first.
_SCOPES: ContextVar[tuple[list[DataFrame], ...]] = ContextVar(
    "plan_cache_scopes", default=()
)


def materialize(df: DataFrame, kind: str) -> DataFrame:
    """Materialize ``df`` and register the result as a release handle
    in every open :func:`scoped` call. ``kind`` is ``"persist"`` (lazy
    MEMORY_AND_DISK cache), ``"local"`` (eager ``localCheckpoint``:
    executor block stores, lineage cut) or ``"reliable"`` (eager
    ``checkpoint`` under the context's checkpoint dir).

    Raises ``RuntimeError`` when no scope is open: nothing would ever
    release the handle."""
    scopes = _SCOPES.get()
    if not scopes:
        raise RuntimeError(
            "materialize() called outside any @scoped function; the "
            "materialized relation would never be released"
        )
    if kind == "persist":
        out = df.persist()
    elif kind == "local":
        out = df.localCheckpoint(eager=True)
    elif kind == "reliable":
        out = df.checkpoint(eager=True)
    else:
        raise ValueError(f"materialize: unknown kind {kind!r}")
    for handles in scopes:
        handles.append(out)
    return out


def scoped(fn):
    """Decorator: every relation :func:`materialize` registers while
    ``fn`` runs, nested scopes included, becomes a release handle of
    the DataFrame ``fn`` returns (``release_plan_caches``), whatever
    transformations came after the materialization. Handles stay
    registered in every enclosing scope too. If ``fn`` raises, the
    handles it took are released before the exception propagates."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        handles: list[DataFrame] = []
        token = _SCOPES.set(_SCOPES.get() + (handles,))
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            _release(handles)
            raise
        finally:
            _SCOPES.reset(token)
        out._plan_cache_handles = handles
        return out

    return run


def _release(handles: list[DataFrame]) -> None:
    for h in handles:
        # blocking: a fire-and-forget unpersist leaves the entry
        # visible in getPersistentRDDs for an arbitrary while (racy
        # leak checks) and lets block cleanup bleed into the NEXT
        # timed query of a bench loop — release deterministically,
        # outside any timed window by contract.
        h.unpersist(blocking=True)
        plan = h._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)


def release_plan_caches(df: DataFrame) -> int:
    """Unpersist every relation materialized while the :func:`scoped`
    function that returned ``df`` ran (no-op for a plan without one).
    Call after the consuming action — a long-lived session (bench
    loops, notebooks, services) otherwise accumulates dead
    MEMORY_AND_DISK entries, one per invocation. A handle may be a
    persisted DataFrame or a checkpoint; a checkpoint's blocks belong
    to the RDD under its plan's ``LogicalRDD`` leaf, which
    ``DataFrame.unpersist()`` does not touch, so that RDD is unpersisted
    too (the released plan cannot run again). Returns the number of
    handles released."""
    handles = getattr(df, "_plan_cache_handles", None) or []
    _release(handles)
    if handles:
        df._plan_cache_handles = []
    return len(handles)


def normalized_text(col):
    """Deterministic normalization: lowercase, strip non-alphanumerics,
    collapse whitespace.

    ONE regex pass (round 6): replacing every run of ``[^a-z0-9]+``
    (space included in the class) with one space is provably equal to
    the definitional two-pass form the oracle SQL spells
    (``[^a-z0-9 ]+`` → space, then collapse ``' +'``): any maximal run
    of non-alphanumerics is an alternation of space and non-space
    segments — pass 1 turns it into all-spaces, pass 2 into one space,
    which is exactly what the single class does; alphanumerics are
    untouched by both.  Value-equality is pinned by
    ``test_single_pass_normalize_equals_two_pass`` and every
    dedup-family oracle hash; this drops one full-text JVM regex from
    every fingerprint/shingle/minhash scan (guide §1.2 per-row cost)."""
    c = F.lower(col)
    return F.trim(F.regexp_replace(c, "[^a-z0-9]+", " "))


def fingerprint_docs(docs: DataFrame) -> DataFrame:
    """doc_id + md5 fingerprint of normalized text."""
    docs = spread_small_scan(docs, "doc_id")
    return docs.select(
        "doc_id",
        F.md5(normalized_text(F.col("text"))).alias("fingerprint"),
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Duplicate groups by exact normalized-text hash:
    (fingerprint, n_docs, keep_id) for groups with ≥2 members."""
    return (
        fingerprint_docs(docs)
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def doc_tokens(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, _toks): the normalized-token relation every shingle /
    minhash kernel consumes — ``split(normalized_text(text), " ")``,
    computed in the JVM scan (Java and Python lower()/regex semantics
    are NOT interchangeable; string joins are).  Factored out so a
    multi-gate composition (e.g. the curation funnel) can persist ONE
    tokenize pass and hand it to several kernels via their ``tokens=``
    hook instead of re-running the normalize regexes per branch
    (guide §2.4 — the normalize projection alone measures ~1.5 s per
    pass at sf1.0)."""
    return spread_small_scan(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.split(normalized_text(F.col("text")), " ").alias("_toks"),
    )


def word_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                  tokens: DataFrame | None = None) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    ``tokens``: optional pre-tokenized (doc_id, _toks) relation (from
    :func:`doc_tokens`, typically persisted by a multi-gate caller);
    when given, ``docs`` is not touched.

    Round 6: the shingle array is built by one Arrow kernel over the
    native token split instead of the interpreted transform-over-
    sequence + array_distinct chain (HOFs do not whole-stage-codegen —
    guide §4.2; the shingle pass alone measured 4.3 s at sf1.0).
    " ".join == array_join byte-for-byte and a Python dict preserves
    first-occurrence order exactly like array_distinct, so the
    exploded row multiset is bit-identical (DuckDB oracle pins it).
    NULL text yields the [NULL] shingle and short docs the single
    whole-doc join, as the oracle's SQL form does.

    ``explode_outer``, deliberately: plain explode triggers the
    InferFiltersFromGenerate optimizer rule, which injects a
    non-codegen Filter re-evaluating the generator input — and the
    kernel's array is never null/empty by construction (the short-doc
    branch emits a 1-element array), so outer semantics are identical."""

    @pandas_udf("array<string>")
    def _shingles(tok_lists: pd.Series) -> pd.Series:
        def one(toks):
            if toks is None:
                return [None]
            toks = list(toks)
            if len(toks) < n:
                return [" ".join(toks)]
            return list(dict.fromkeys(
                " ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)
            ))

        return tok_lists.map(one)

    d = tokens if tokens is not None else doc_tokens(docs, id_col)
    return d.select(
        "doc_id", F.explode_outer(_shingles("_toks")).alias("shingle")
    )


@scoped
def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs with word-n-gram Jaccard ≥ threshold:
    (doc_a, doc_b, n_common, n_a, n_b, jaccard), doc_a < doc_b.

    ``max_df`` prunes shingles occurring in more than that many docs before
    the self-join (recall-safe for near-duplicates when set well above the
    duplicate-group size; unset = exact).

    The shingle relation feeds 3-4 plan branches (df counts, doc sizes,
    both self-join sides); without materialization Spark recomputes the
    shingle expressions per branch — ~4x the dominant cost. It is
    persisted MEMORY_AND_DISK, the distributed analogue of staging a
    shingle temp table (measured 4-5x end-to-end)."""
    sh = word_shingles(docs, n)
    # Round 6: ONE aggregate to per-shingle sorted doc lists replaces
    # the previous shape (df-count aggregate + prune join re-executed
    # per consuming branch + shingle-string SMJ self-join — the prune
    # join alone ran three times). Every downstream consumer derives
    # from the doc-list relation: doc sizes by exploding the lists,
    # common counts by exploding the within-list pairs (sorted, so
    # (i<j) positions ARE (doc_a<doc_b) values — identical pairs and
    # counts to the self-join by construction; the DuckDB oracle still
    # spells the join form and hash-matches). One shuffle of the
    # shingle relation instead of three, no sort. The doc-list
    # relation (the one multi-consumer relation) is persisted.
    # NULL-shingle rows (NULL-text docs) never satisfy the join form's
    # a.shingle == b.shingle (NULL equality), so they pair with
    # nothing; they are dropped before the grouping. Doc SIZES follow
    # the join form too: with max_df the prune (inner) join dropped
    # NULL-shingle rows from the counted relation, without it the raw
    # relation was counted including them — both reproduced exactly
    # (hostile-docs suite pins this).
    nonnull = sh.filter(F.col("shingle").isNotNull())
    grp = nonnull.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.col("doc_id"))).alias("_ds")
    )
    if max_df:
        grp = grp.filter(F.size("_ds") <= max_df)
    grp = materialize(grp.select("_ds"), "persist")
    size_src = (
        grp.select(F.explode("_ds").alias("doc_id"))
        if max_df
        else sh.select("doc_id")
    )
    sizes = size_src.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pair_expr = F.flatten(
        F.transform(
            "_ds",
            lambda x, i: F.transform(
                F.slice("_ds", i + 2, F.size("_ds")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    common = (
        grp.filter(F.size("_ds") >= 2)
        .select(F.explode(pair_expr).alias("_p"))
        .groupBy(
            F.col("_p.a").alias("doc_a"),
            F.col("_p.b").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Affine-rehash scheme: ONE md5 per shingle; permutation p rehashes the
# 32-bit md5 prefix with (a_p·h + b_p) mod M, M = 2^31−1 (Mersenne).
# Products stay < 2^62 → exact in numpy int64 AND DuckDB BIGINT, so the
# oracle reproduces every permutation bit-for-bit. 16× fewer md5 calls
# than hashing "p|shingle" per permutation — the difference between 1×
# and 16× the corpus-shingle md5 cost at 100 TB.
MINHASH_PRIME = 2_147_483_647


def minhash_affine_params(n_perms: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_p, b_p) coefficient lists, md5-derived so any
    engine can re-derive or inline them as literals."""
    a, b = [], []
    for p in range(n_perms):
        ha = int(hashlib.md5(f"a|13|{p}".encode()).hexdigest()[:8], 16)
        hb = int(hashlib.md5(f"b|13|{p}".encode()).hexdigest()[:8], 16)
        a.append(ha % (MINHASH_PRIME - 1) + 1)
        b.append(hb % MINHASH_PRIME)
    return a, b


def minhash_affine_bands_batch(
    tok_lists, n_perms: int = 16, band_size: int = 4
) -> list:
    """The affine-scheme shingle→minhash→band kernel over one Arrow
    batch of per-doc (already normalized) token arrays: build the word
    n-gram shingles with plain string joins (identical bytes to
    array_join∘slice; duplicates need no dedup — a minimum is
    multiplicity-blind), md5 once per DISTINCT shingle in the batch,
    every permutation minimum as one segmented ``minimum.reduceat``
    over the flat hash array, band hashes as md5 of the comma-joined
    decimal minima. ALL-INTEGER/STRING arithmetic — products stay
    < 2^62 in int64 exactly like the SQL form, so the DuckDB oracle
    reproduces the kernel bit for bit (no floats anywhere).

    NULL handling mirrors the oracle: a NULL token array (NULL-text
    doc) has no shingles, so every band hashes the empty string.
    Shingles are word 3-grams; docs shorter than 3 tokens emit the
    single whole-doc join.
    Module-level for microbenching/pinning (the simhash_batch
    discipline)."""
    n_bands = -(-n_perms // band_size)
    a_list, b_list = minhash_affine_params(n_perms)
    a_arr = np.asarray(a_list, dtype=np.int64)
    b_arr = np.asarray(b_list, dtype=np.int64)

    cache: dict[str, int] = {}
    flat: list[int] = []
    counts = np.zeros(len(tok_lists), dtype=np.int64)
    for d, toks in enumerate(tok_lists):
        c = 0
        if toks is not None:
            toks = list(toks)
            if len(toks) >= 3:
                shingles = {
                    " ".join(toks[i:i + 3])
                    for i in range(len(toks) - 3 + 1)
                }
            else:
                shingles = (" ".join(toks),)
            for s in shingles:
                h = cache.get(s)
                if h is None:
                    h = int(
                        hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16
                    ) % MINHASH_PRIME
                    cache[s] = h
                flat.append(h)
                c += 1
        counts[d] = c
    H = np.asarray(flat, dtype=np.int64)
    nonempty = counts > 0
    offsets = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    # reduceat needs non-empty segments: run over the docs that have
    # shingles, scatter back, leave empty docs as None minima.
    red_off = offsets[nonempty]
    mins = np.empty((n_perms, len(counts)), dtype=np.int64)
    for p in range(n_perms):
        perm = (a_arr[p] * H + b_arr[p]) % MINHASH_PRIME
        if len(red_off):
            mins[p, nonempty] = np.minimum.reduceat(perm, red_off)
    out = []
    for d in range(len(counts)):
        bands = []
        for b in range(n_bands):
            lo, hi = b * band_size, min((b + 1) * band_size, n_perms)
            parts = (
                [str(int(mins[p, d])) for p in range(lo, hi)]
                if nonempty[d] else []
            )
            bands.append(hashlib.md5(",".join(parts).encode()).hexdigest())
        out.append(bands)
    return out


def minhash_band_hashes(
    docs: DataFrame,
    n_perms: int = 16,
    band_size: int = 4,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_hash): minhash signatures of each doc's word
    3-gram shingles folded into LSH bands. Docs sharing any band_hash are
    near-duplicate candidates.

    The permutation scheme is cross-engine exact: h = 32-bit md5 prefix
    of the shingle mod 2^31−1 (Mersenne), perm p = (a_p·h + b_p) mod
    2^31−1; band hash = md5 of the comma-joined decimal minima. ONE md5
    per shingle.

    NULL text has no shingles, so every band hashes the empty string.
    The DuckDB oracle mirrors this via COALESCE(string_agg(...), '').

    Scale shape: the whole signature is computed per doc in one narrow
    projection — no explode(shingles × n_perms) blowup, no groupBy
    shuffle; the only rows produced per doc are its n_perms/band_size
    band hashes.
    """
    # The shingle→hash→permutation→band chain runs as ONE vectorized
    # Arrow kernel (``minhash_affine_bands_batch``) over the native token
    # split instead of interpreted higher-order transforms per doc (HOFs
    # do not whole-stage-codegen — guide §4.2). All-integer/string
    # arithmetic, so the DuckDB oracle reproduces it bit for bit.
    # Tokenization (lower/regex/split) stays in the JVM scan — Java and
    # Python lower()/regex semantics are NOT interchangeable, string
    # joins are.
    @pandas_udf("array<string>")
    def _bands(toks: pd.Series) -> pd.Series:
        return pd.Series(
            minhash_affine_bands_batch(list(toks), n_perms, band_size)
        )

    d = tokens if tokens is not None else doc_tokens(docs)
    return d.select(
        "doc_id",
        F.posexplode_outer(_bands("_toks")).alias("band", "band_hash"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing ≥1 LSH band.

    Round 6: candidate pairs come from ONE aggregate to per-bucket
    sorted doc lists (pairs exploded from each list) instead of a
    band-relation self-join — the signature kernel ran once per join
    side and the join shuffled the band relation twice (the
    ngram_jaccard doc-list shape). Sorted lists make (i<j) positions
    exactly the (doc_a<doc_b) value pairs of the join form, so the
    candidate set is identical by construction (DuckDB oracle still
    spells the join and hash-matches). Candidate volume is unchanged
    (Σ n_bucket² either way)."""
    bands = minhash_band_hashes(docs, tokens=tokens)
    grp = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col("doc_id"))).alias("_ds"))
        .filter(F.size("_ds") >= 2)
    )
    pair_expr = F.flatten(
        F.transform(
            "_ds",
            lambda x, i: F.transform(
                F.slice("_ds", i + 2, F.size("_ds")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grp.select(F.explode(pair_expr).alias("_p"))
        .select(
            F.col("_p.a").alias("doc_a"),
            F.col("_p.b").alias("doc_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash (Arrow UDF — bit manipulation over token hashes)
# ---------------------------------------------------------------------------

def simhash_batch(texts: pd.Series, bits: int = 64) -> np.ndarray:
    """The simhash kernel over one Arrow batch of (already normalized)
    texts: md5 once per DISTINCT token, bit expansion via np.unpackbits,
    per-doc ±1 sums as one vectorized gather+reduce per doc — no
    per-token×per-bit Python loop. Module-level so it is directly
    callable on a pandas Series and pinnable in tests."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    texts = texts.fillna("")
    tok_lists = [t.split() for t in texts]
    vocab: dict[str, int] = {}
    flat_idx = np.empty(sum(len(t) for t in tok_lists), dtype=np.int64)
    pos = 0
    for toks in tok_lists:
        for tok in toks:
            j = vocab.get(tok)
            if j is None:
                j = len(vocab)
                vocab[tok] = j
            flat_idx[pos] = j
            pos += 1
    out = np.zeros(len(texts), dtype=np.int64)
    if vocab:
        # bit b (LSB order) of int.from_bytes(digest[:8], "big") ==
        # unpackbits(reversed bytes, bitorder="little")[b]
        dig = np.frombuffer(
            b"".join(
                hashlib.md5(tok.encode("utf-8")).digest()[7::-1]
                for tok in vocab
            ),
            dtype=np.uint8,
        ).reshape(len(vocab), 8)
        signs = (
            np.unpackbits(dig, axis=1, bitorder="little").astype(np.int32)
            * 2 - 1                                        # (vocab, 64) ±1
        )
        counts = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(texts)
        )
        offsets = np.zeros(len(texts) + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        # acc[doc] = signs[token_ids(doc)].sum(axis=0): a small per-doc
        # gather+reduce beats both a dense (docs × vocab) count matrix
        # (memory blowup at real vocab sizes) and np.add.reduceat over the
        # full (tokens × 64) expansion (pathological on this hardware) —
        # int32 is safe: |acc| ≤ tokens-per-doc < 2^31.
        acc = np.zeros((len(texts), 64), dtype=np.int32)
        for d in range(len(texts)):
            seg = flat_idx[offsets[d]:offsets[d + 1]]
            if len(seg):
                acc[d] = signs[seg].sum(axis=0)
        packed = np.packbits(
            (acc > 0).astype(np.uint8), axis=1, bitorder="little"
        )                                                  # little-endian u64
        nonempty = counts > 0
        sig = (
            np.ascontiguousarray(packed).view("<u8").reshape(-1)
            .view(np.int64)
        )
        if bits < 64:
            # per-bit independence: the low `bits` bits of the 64-wide
            # signature ARE the bits-wide signature (the definitional
            # loop accumulates each bit from the same md5 prefix)
            sig = (
                sig.view(np.uint64) & np.uint64((1 << bits) - 1)
            ).view(np.int64)
        out[nonempty] = sig[nonempty]
    return out


def simhash_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT): 64-bit SimHash over normalized tokens,
    md5-based token hashes (deterministic across runs/engines). One
    vectorized Arrow kernel (``simhash_batch``) per batch."""
    docs = spread_small_scan(docs, "doc_id")

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(texts))

    return docs.select(
        "doc_id",
        _simhash(normalized_text(F.col("text"))).alias("simhash"),
    )


# ---------------------------------------------------------------------------
# Near-duplicate cluster assignment (connected components over LSH pairs)
# ---------------------------------------------------------------------------

@scoped
def connected_components(
    edges: DataFrame,
    max_rounds: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) — component = MIN node id reachable through the
    undirected edge set ``edges`` (columns ``doc_a``, ``doc_b``). Nodes
    not in any edge are absent (callers re-attach singletons).

    Algorithm: min-label propagation with pointer jumping. Each round
    every node takes the minimum of (its label, its neighbors' labels,
    its label's OWN label); the pointer-jump join halves chain depth per
    round, so convergence is O(log diameter) rounds — and near-duplicate
    candidate graphs are clique-like (members of a dup cluster are
    pairwise similar, diameter 1–2), so 2–3 rounds in practice. Each
    round is two hash joins + one aggregation on (node) keys, shuffle
    volume O(|E|), and the label frame is checkpointed so the iterative
    lineage cannot stack (the same discipline GraphFrames' iterative
    algorithms use). Convergence is detected by the strictly decreasing
    sum of labels reaching a fixpoint — one scalar action per round on
    the already-materialized checkpoint.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_rounds`` — silently returning would hand callers a wrongly
    split component assignment with no signal. Practically unreachable
    with pointer jumping at the default 25 rounds (would need diameter
    > 2^25), so the raise is a cheap safety assertion.

    ``checkpoint_dir``: when set, per-round frames use RELIABLE
    checkpoints written under this (distributed) path instead of
    ``localCheckpoint``. Local checkpoints live on executor block
    stores — on a real cluster an executor loss mid-iteration kills the
    lineage-truncated frame; pass a checkpoint dir in cluster mode.
    Checkpoint files are reclaimed when their RDDs are garbage-collected
    ONLY under ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    (set by ``build_session``; a long-lived app with a different session
    factory should set it too, or sweep the directory itself).

    SESSION-GLOBAL SIDE EFFECT: ``sparkContext.setCheckpointDir`` has no
    scoped form, so it is called ONLY when the context has no checkpoint
    dir yet; if one is already set and differs, a warning is emitted and
    the EXISTING dir is used — silently redirecting another component's
    reliable checkpoints mid-session would be worse than checkpointing
    here under the caller's configured path.
    """
    if checkpoint_dir is not None:
        sc = edges.sparkSession.sparkContext
        current = sc._jsc.sc().getCheckpointDir()
        current = current.get() if current.isDefined() else None
        if current is None:
            sc.setCheckpointDir(checkpoint_dir)
        # Spark resolves the dir to a URI and appends a UUID subdir, so
        # "already points here" is a substring check on the request
        elif checkpoint_dir.rstrip("/").lstrip("./") not in current:
            import warnings

            warnings.warn(
                f"connected_components: sparkContext checkpoint dir is "
                f"already {current!r}; keeping it (checkpoint_dir="
                f"{checkpoint_dir!r} NOT applied — setCheckpointDir is "
                f"session-global)",
                stacklevel=2,
            )

    kind = "local" if checkpoint_dir is None else "reliable"

    # Materialize the edge relation ONCE: every round joins against it,
    # and without this each round would re-execute the full upstream
    # candidate-pair pipeline (signature scan + LSH self-join) from
    # scratch — measured 5× on the graded near-dup query.
    und = materialize(edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    ), kind)
    labels = materialize(
        und.select("u").distinct().withColumn("lab", F.col("u")), kind
    )
    prev_sum = None
    converged = False
    for _ in range(max_rounds):
        nbr = (
            und.join(
                labels.select(F.col("u").alias("v"), "lab"), "v"
            )
            .groupBy("u").agg(F.min("lab").alias("nmin"))
        )
        cand = labels.join(nbr, "u", "left").select(
            "u",
            F.least(F.col("lab"), F.coalesce("nmin", F.col("lab")))
            .alias("lab"),
        )
        jumped = cand.join(
            labels.select(F.col("u").alias("lab"), F.col("lab").alias("plab")),
            "lab", "left",
        ).select(
            "u",
            F.least(F.col("lab"), F.coalesce("plab", F.col("lab")))
            .alias("lab"),
        )
        labels = materialize(jumped, kind)
        cur_sum = labels.agg(F.sum("lab")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components: label-sum fixpoint not reached within "
            f"max_rounds={max_rounds}; component assignment would be "
            f"wrongly split. Raise max_rounds (diameter > 2^rounds is "
            f"required to get here with pointer jumping)."
        )
    return labels.select(F.col("u").alias("node"), F.col("lab").alias("component"))


@scoped
def neardup_clusters(
    docs: DataFrame,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_representative): the
    pairs → clusters → keep-one step of a near-dup pipeline. Documents
    sharing any MinHash LSH band are joined into one cluster via
    connected components; ``cluster_id`` is the smallest doc_id in the
    component (singletons cluster with themselves), and the dedup filter
    is simply ``WHERE is_representative``.

    Scale shape: CC runs only over the candidate-pair node set (tiny
    relative to the corpus — duplicate-involved docs); the full corpus is
    touched once by the signature scan and once by the final left join +
    one window on cluster_id for sizes.
    """
    pairs = minhash_lsh_pairs(docs, tokens=tokens)
    comp = connected_components(pairs)
    base = (
        tokens.select("doc_id") if tokens is not None
        else docs.select("doc_id")
    )
    out = (
        base
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


# ---------------------------------------------------------------------------
# SimHash near-duplicate pairs (banded hamming-distance join)
# ---------------------------------------------------------------------------

@scoped
def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs of documents whose 64-bit SimHash
    signatures differ in ≤ ``max_hamming`` bits — the third near-dup
    modality next to MinHash-Jaccard and embedding-cosine.

    Candidate generation is the pigeonhole banding scheme: split the 64
    bits into ``n_bands`` disjoint bands; any two signatures within
    hamming distance k ≤ n_bands−1 must agree EXACTLY on at least one
    band, so an equi-self-join per band finds every qualifying pair
    (requires ``max_hamming < n_bands`` — asserted). Exact
    ``bit_count(a XOR b)`` rescores the candidate union.

    Scale shape: signatures are one narrow kernel pass; the per-band
    join key is a 64/n_bands-bit integer (2^16 values at the default —
    near-uniform, no skew); candidate volume per band is Σ n_bucket² /
    2^(64/n_bands) — sub-quadratic; only (id, id) pairs flow into the
    rescore join, vectors/texts stay in the scan. The rescore is a
    broadcast-friendly self-join on the tiny signature relation.
    """
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"banding completeness needs max_hamming < n_bands, got "
            f"{max_hamming} >= {n_bands}"
        )
    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1

    # The signature relation feeds both self-join sides; persisted so
    # the Arrow simhash kernel scans the corpus ONCE instead of once
    # per branch (it previously also fed two rescore joins — 4 scans
    # per evaluation; guide §2.4/§4). Narrow: (doc_id, simhash BIGINT).
    # NOTE: the doc-list aggregate shape that won for ngram_jaccard /
    # minhash_lsh_pairs was measured SLOWER here (2.9 → 5.7 s at
    # sf1.0) — the 2^16-value band keys make millions of tiny buckets,
    # where collect_list + per-list pair explosion costs more than the
    # equi-join it replaces. Kept the join.
    sig = materialize(simhash_docs(docs), "persist")

    # 4 rows/doc: (band, band value). Arithmetic shiftright + mask is
    # sign-extension-safe (the mask keeps only the band's own bits) and
    # matches DuckDB's BIGINT >> semantics exactly. The full signature
    # rides along (8 bytes/row), so the exact rescore is computed
    # inline on the joined candidates — the two signature re-joins the
    # rescore previously paid are gone from the plan.
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(mask)
                for b in range(n_bands)
            ])
        ).alias("band", "band_val"),
    )
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        # hamming is functionally determined by (doc_a, doc_b), so the
        # per-band duplicate candidates collapse to the same distinct
        # set; filtering first shrinks the distinct's exchange.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (duplicated n-gram span detection)
# ---------------------------------------------------------------------------

def positional_ngram_hashes(
    docs: DataFrame,
    n: int = 13,
    gram_hash: str = "md5",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, pos, gram): hash of every POSITIONAL word n-gram
    (1-based token position, NOT deduped — the positional twin of
    ``word_shingles``). Docs shorter than ``n`` tokens emit nothing (they
    cannot contain an n-token duplicated span).

    ``gram_hash``: ``'md5'`` (default — 32-char hex string, bit-exact
    DuckDB oracle parity) or ``'i64'`` (native ``xxhash64`` → BIGINT).
    At 100 TB the gram relation is ~1 row per corpus token and the md5
    hex string is 32+ bytes per row of shuffle; ``'i64'`` shrinks the
    shuffled key to 8 bytes (~4× smaller gram column) at a collision
    probability that is negligible for duplicate DETECTION (a false
    gram collision needs 2⁶⁴-scale luck AND must survive the ≥
    min_count filter to flag a span).

    The whole gram array is built as ONE native expression
    (split + transform over a sequence + hash), so the scan stays inside
    whole-stage codegen; ``posexplode_outer`` for the same
    InferFiltersFromGenerate reason as ``word_shingles``."""
    if gram_hash not in ("md5", "i64"):
        raise ValueError(f"gram_hash must be 'md5' or 'i64', got {gram_hash!r}")
    d = tokens if tokens is not None else doc_tokens(docs)
    if gram_hash == "md5":
        # Round 6: gram construction + md5 as one Arrow kernel instead
        # of an interpreted transform-over-sequence (HOFs do not
        # whole-stage-codegen — guide §4.2; measured 6.2 s of the 13 s
        # query wall at sf1.0). " ".join == array_join byte-for-byte
        # and hashlib.md5 hex == Spark md5 hex, so the hashes are
        # bit-identical (DuckDB oracle pins it). The per-batch cache
        # dedups repeated grams (duplicated content — exactly the rows
        # this operator exists to find). The i64 scheme stays on the
        # native expression path: Spark's xxhash64 is not available to
        # Python here, and a reimplementation would be the opposite of
        # the md5 parity argument.
        # The kernel emits the RAW 16-byte digest, not the 32-char hex:
        # hex↔bytes is a bijection, so gram EQUALITY — the only thing
        # the span logic consumes (the gram never reaches the output) —
        # is untouched while the persisted/shuffled key halves.
        @pandas_udf("array<binary>")
        def _gram_md5(tok_lists: pd.Series) -> pd.Series:
            cache: dict[str, bytes] = {}

            def one(toks):
                if toks is None or len(toks) < n:
                    return []
                toks = list(toks)
                out = []
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i:i + n])
                    h = cache.get(g)
                    if h is None:
                        h = hashlib.md5(g.encode("utf-8")).digest()
                        cache[g] = h
                    out.append(h)
                return out

            return tok_lists.map(one)

        grams = _gram_md5("_toks")
        return (
            d.select(
                "doc_id", F.posexplode_outer(grams).alias("_p", "gram")
            )
            .filter(F.col("gram").isNotNull())
            .select(
                "doc_id", (F.col("_p") + 1).cast("long").alias("pos"),
                "gram",
            )
        )
    # i64: gram STRINGS built in the kernel (plain joins — identical
    # bytes to array_join∘slice), the hash applied as native codegen
    # xxhash64 on the exploded flat column: Spark's xxhash64 has no
    # Python twin, and hashing per element inside a transform was the
    # interpreted-HOF wall (guide §4.2).
    @pandas_udf("array<string>")
    def _gram_strs(tok_lists: pd.Series) -> pd.Series:
        def one(toks):
            if toks is None or len(toks) < n:
                return []
            toks = list(toks)
            return [
                " ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)
            ]

        return tok_lists.map(one)

    return (
        d.select(
            "doc_id", F.posexplode_outer(_gram_strs("_toks")).alias(
                "_p", "_g"
            )
        )
        .filter(F.col("_g").isNotNull())
        .select(
            "doc_id", (F.col("_p") + 1).cast("long").alias("pos"),
            F.xxhash64(F.col("_g")).alias("gram"),
        )
    )


@scoped
def duplicated_ngram_spans(
    docs: DataFrame,
    n: int = 13,
    min_count: int = 2,
    gram_hash: str = "md5",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Substring-level exact dedup: maximal token spans covered by word
    n-grams occurring ≥ ``min_count`` times in the whole corpus
    (including repeats inside one doc) — the detection half of
    duplicated-training-span removal (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"). Suffix-array semantics
    are approximated by the fixed-``n`` gram cover: any duplicated
    substring of ≥ n tokens is covered by its duplicated n-grams, and
    overlapping/adjacent covers merge into one maximal span.

    Returns (doc_id, span_start, span_end, n_tokens, n_dup_grams) with
    1-based inclusive token offsets into the NORMALIZED token stream.
    Callers remove spans with a slice on the same tokenization.

    Scale shape: the positional gram relation is ~1 row per corpus token
    — the plan does exactly TWO shuffles on it (one hash-agg by gram
    with map-side partial aggregation, one window+agg by doc_id; the
    island groupBy reuses the window's doc_id partitioning). The gram
    relation feeds both the duplicate-gram aggregate and the join back,
    so it is persisted once. At 100 TB,
    pass ``gram_hash='i64'`` (native xxhash64 → BIGINT) to shrink the
    shuffled gram key from a 32-byte md5 hex string to 8 bytes; the
    default stays ``'md5'`` for bit-exact oracle parity. Both schemes
    yield identical spans on non-adversarial corpora
    (``test_i64_gram_hash_spans_identical``): only gram EQUALITY feeds
    the span logic, so the hash choice only matters at 2⁶⁴-collision
    probability.
    """
    g = materialize(
        positional_ngram_hashes(
            docs, n, gram_hash=gram_hash, tokens=tokens
        ),
        "persist",
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gram")
    )
    hits = g.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = (
        hits.withColumn("_prev", F.lag("pos").over(w))
        # consecutive duplicated grams at pos, prev cover overlapping or
        # touching token ranges iff pos - prev <= n
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > n),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        flagged.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
            "n_dup_grams",
        )
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination screen (corpus × eval-set n-gram overlap)
# ---------------------------------------------------------------------------

def contamination_screen(
    docs: DataFrame,
    evalset: DataFrame,
    n: int = 13,
) -> DataFrame:
    """(doc_id, eval_id, n_shared_grams): corpus docs sharing ≥ 1 word
    n-gram with an eval-set item — the standard pretraining hygiene
    check (13-gram overlap à la GPT-3 appendix C / PaLM contamination
    analysis). ``n_shared_grams`` counts DISTINCT shared grams (both
    sides' shingles are per-document distinct).

    Scale shape: the eval set is small by construction (benchmarks are
    thousands of items, the corpus is billions), so its shingle relation
    is broadcast — the corpus side streams through a broadcast hash join
    with NO shuffle, and the only exchange is the final (doc_id,
    eval_id) count aggregate, whose input is already tiny (matches
    only). Never an all-pairs comparison."""
    doc_sh = word_shingles(docs, n)
    ev_sh = word_shingles(evalset, n, "eval_id").withColumnRenamed(
        "doc_id", "eval_id"
    )
    return (
        doc_sh.join(F.broadcast(ev_sh), "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def remove_duplicated_spans(
    docs: DataFrame,
    spans: DataFrame,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """The removal half of substring-level dedup: given the spans from
    ``duplicated_ngram_spans`` (1-based inclusive token offsets into the
    normalized token stream), return (doc_id, clean_text, n_removed_tokens,
    n_kept_tokens) with every flagged token dropped — the Lee et al.
    "remove one occurrence? remove all" policy applied as remove-all
    (both occurrences are inside flagged spans by construction).

    Fully native: spans aggregate to one array per doc (a LEFT join —
    clean docs pass through with spans=[]), and the token filter is an
    ``exists`` over that array inside ``F.filter`` — no shuffle beyond
    the span aggregation's own, no Python. Output text is the
    NORMALIZED token stream minus flagged tokens (normalization is the
    dedup domain; callers needing original-byte surgery map offsets
    back through their own tokenizer).
    """
    sp = spans.groupBy(F.col("doc_id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    d = (
        tokens if tokens is not None
        else doc_tokens(docs)
    )
    joined = d.join(sp, "doc_id", "left").withColumn(
        "_spans", F.coalesce("_spans", F.array())
    )

    # Round 6: the keep-token filter as one Arrow kernel instead of an
    # interpreted transform/exists/filter per token (HOFs do not
    # whole-stage-codegen — guide §4.2). Pure integer interval masking
    # + " ".join (== array_join byte-for-byte), so the output is
    # bit-identical; a NULL token array (NULL text) yields NULL
    # text/counts exactly like size(NULL)/array_join(NULL).
    @pandas_udf(
        "struct<clean_text:string,n_removed_tokens:bigint,"
        "n_kept_tokens:bigint>"
    )
    def _remove(tok_lists: pd.Series, span_lists: pd.Series) -> pd.DataFrame:
        texts, removed, kept_n = [], [], []
        for toks, spans in zip(tok_lists, span_lists):
            if toks is None:
                texts.append(None)
                removed.append(None)
                kept_n.append(None)
                continue
            toks = list(toks)
            mask = np.zeros(len(toks), dtype=bool)
            for s in spans:
                # 1-based inclusive offsets; clamp to the token range
                mask[max(s["span_start"] - 1, 0):s["span_end"]] = True
            kept = [t for t, m in zip(toks, mask) if not m]
            texts.append(" ".join(kept))
            removed.append(len(toks) - len(kept))
            kept_n.append(len(kept))
        return pd.DataFrame({
            "clean_text": texts,
            "n_removed_tokens": pd.array(removed, dtype="Int64"),
            "n_kept_tokens": pd.array(kept_n, dtype="Int64"),
        })

    return joined.select(
        "doc_id", _remove("_toks", "_spans").alias("_r")
    ).select(
        "doc_id",
        F.col("_r.clean_text").alias("clean_text"),
        F.col("_r.n_removed_tokens").alias("n_removed_tokens"),
        F.col("_r.n_kept_tokens").alias("n_kept_tokens"),
    )


@scoped
def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    corpus_bound_bytes: int = None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW crawl increment against an EXISTING corpus: the
    production shape of exact dedup, where the historical corpus is not
    re-scanned — only its fingerprint relation is. A new document is
    admitted (``is_new=1``) iff its normalized-text md5 is absent from
    ``seen_fps`` AND it is the first holder of that fingerprint within
    the increment (ties broken by lowest doc_id — the same keep-first
    policy as ``exact_dedup_groups``).

    Output: (doc_id, fingerprint, seen_in_corpus INT,
    first_in_increment INT, is_new INT).

    Scale shape: the increment is fingerprinted in one narrow map; the
    seen relation is CORPUS-sized (one row per distinct historical
    document), so the membership join is broadcast XOR shuffle-hash via
    ``maybe_broadcast`` — pass the historical fingerprint store's scan
    bytes as ``corpus_bound_bytes`` (at 10^12 docs it shuffle-joins on
    fingerprint; both sides hash-exchange on the same key). The
    within-increment keep-first is one aggregate on fingerprint that
    reuses that exchange.
    """
    from .scale import maybe_broadcast, plan_size_bytes

    if corpus_bound_bytes is None:
        corpus_bound_bytes = plan_size_bytes(seen_fps)
    # ``fingerprints``: optional precomputed (doc_id, fingerprint)
    # relation for the increment — an optimization hook so a caller
    # that already fingerprinted the increment (e.g. to derive the
    # seen store from the same scan, or a persisted handle) avoids
    # re-running the normalize+md5 corpus scan here. Without it the
    # increment scan feeds two branches (membership join + keep-first
    # aggregate), so it is persisted — narrow (id, 32-char hex) rows.
    fp = fingerprints
    if fp is None:
        fp = materialize(
            fingerprint_docs(new_docs), "persist"
        )
    seen = seen_fps.select(
        F.col("fingerprint"), F.lit(1).alias("_seen")
    ).dropDuplicates(["fingerprint"])
    first = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("_first_id")
    )
    return (
        fp.join(
            maybe_broadcast(seen, bound_bytes=corpus_bound_bytes),
            "fingerprint", "left",
        )
        .join(first, "fingerprint")
        .select(
            "doc_id", "fingerprint",
            F.col("_seen").isNotNull().cast("int").alias("seen_in_corpus"),
            (F.col("doc_id") == F.col("_first_id")).cast("int").alias(
                "first_in_increment"
            ),
            (
                F.col("_seen").isNull()
                & (F.col("doc_id") == F.col("_first_id"))
            ).cast("int").alias("is_new"),
        )
    )


def bloom_bitset(
    fps: DataFrame, m_bits: int = 1 << 20, k: int = 5
) -> np.ndarray:
    """Packed Bloom-filter bitset (``m_bits/8`` bytes, uint8) over the
    ``fingerprint`` column of ``fps``.

    Bit positions are ``xxhash64(fingerprint, seed=i) mod m_bits`` for
    ``i in 0..k-1``, computed JVM-side (one narrow projection + explode)
    and reduced to the DISTINCT set bits — the only thing that ever
    reaches the driver, bounded by ``m_bits`` (default 2^20 bits =
    128 KiB packed) REGARDLESS of how many fingerprints the store
    holds.  At 10^12 historical docs you size ``m_bits`` to ~10 bits
    per key (1.2 TB of history fingerprints → a 1.2 GB bitset is still
    broadcastable, or shard the filter by fingerprint prefix); the
    false-positive rate only costs extra rows through the exact join,
    never correctness.
    """
    pos = fps.select(
        F.explode(
            F.array(*[
                F.pmod(
                    F.xxhash64(F.col("fingerprint"), F.lit(i)),
                    F.lit(int(m_bits)),
                )
                for i in range(k)
            ])
        ).alias("p")
    ).distinct()
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for (p,) in pos.collect():
        bits[p >> 3] |= np.uint8(1 << (p & 7))
    return bits


@scoped
def incremental_dedup_bloom(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 5,
    corpus_bound_bytes: int = None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """:func:`incremental_dedup` with a Bloom pre-filter on the
    historical store — EXACT output (bit-identical to the plain path;
    pytest-pinned), different physical plan for the common case where
    most of a crawl increment is genuinely new.

    Plain incremental dedup joins the WHOLE increment against the
    corpus-sized fingerprint store.  Here the increment first probes a
    broadcast Bloom bitset built from the store (:func:`bloom_bitset`):
    a miss is a definitive not-seen (``seen_in_corpus=0`` with no join
    at all), so only the hit fraction — true positives plus the
    configured false-positive rate — pays the store join.  With 10 bits
    per key (~0.8% FP) and a 90%-new increment, the join shrinks ~10×;
    the bitset is fixed-size and the probe is a vectorized Arrow batch
    (positions computed JVM-side with the same xxhash64 the builder
    used, the UDF only indexes the shared ``uint8`` array).

    The within-increment keep-first aggregate still sees every row (it
    must), reusing the fingerprint exchange the hit-side join needs.
    """
    from .scale import maybe_broadcast, plan_size_bytes

    if corpus_bound_bytes is None:
        corpus_bound_bytes = plan_size_bytes(seen_fps)
    spark = new_docs.sparkSession
    bits_bc = spark.sparkContext.broadcast(
        bloom_bitset(seen_fps, m_bits=m_bits, k=k)
    )

    @pandas_udf("boolean")
    def _probe(*pos: pd.Series) -> pd.Series:
        bits = bits_bc.value
        hit = np.ones(len(pos[0]), dtype=bool)
        for p in pos:
            pv = p.to_numpy(dtype=np.int64)
            hit &= (bits[pv >> 3] >> (pv & 7) & 1).astype(bool)
        return pd.Series(hit)

    # Same ``fingerprints`` hook + persist discipline as
    # :func:`incremental_dedup`: the increment fingerprint relation
    # feeds three branches here (hit probe, miss probe, keep-first
    # aggregate) — without materialization the normalize+md5 corpus
    # scan re-runs per branch.
    fp = fingerprints
    if fp is None:
        fp = materialize(
            fingerprint_docs(new_docs), "persist"
        )
    probed = fp.withColumn(
        "_maybe",
        _probe(*[
            F.pmod(
                F.xxhash64(F.col("fingerprint"), F.lit(i)),
                F.lit(int(m_bits)),
            )
            for i in range(k)
        ]),
    )
    seen = seen_fps.select(
        F.col("fingerprint"), F.lit(1).alias("_seen")
    ).dropDuplicates(["fingerprint"])
    hits = probed.filter(F.col("_maybe")).join(
        maybe_broadcast(seen, bound_bytes=corpus_bound_bytes),
        "fingerprint", "left",
    )
    misses = probed.filter(~F.col("_maybe")).withColumn(
        "_seen", F.lit(None).cast("int")
    )
    merged = hits.select("doc_id", "fingerprint", "_seen").unionByName(
        misses.select("doc_id", "fingerprint", "_seen")
    )
    first = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("_first_id")
    )
    return merged.join(first, "fingerprint").select(
        "doc_id", "fingerprint",
        F.col("_seen").isNotNull().cast("int").alias("seen_in_corpus"),
        (F.col("doc_id") == F.col("_first_id")).cast("int").alias(
            "first_in_increment"
        ),
        (
            F.col("_seen").isNull()
            & (F.col("doc_id") == F.col("_first_id"))
        ).cast("int").alias("is_new"),
    )
