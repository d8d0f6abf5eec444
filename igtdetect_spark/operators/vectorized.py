"""Vectorized (Arrow-batch) feature extraction + scoring kernels.

These run inside ``mapInPandas``/``applyInPandas`` on executors. All regex
features are evaluated with pandas ``str.contains`` over the whole batch —
the same Python ``re`` engine as the oracle (``featurespec``), so parity is
by construction, while the loop is C-level. Only token-membership features
(word_*, has_langname) walk rows in Python, over precomputed token lists.

The scoring kernel materializes the per-document boolean base-feature
matrix and applies the context-decomposed weights (``refmodel``) as numpy
matmuls — no per-line Python in the hot path.
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

import numpy as np
import pandas as pd

from ..config import (
    PipelineConfig,
    F_HAS_LARGER_FONT,
    F_HAS_NONSTANDARD_FONT,
    F_HAS_SMALLER_FONT,
    F_HIGH_ISCORE,
    F_IS_FIRST_PAGE,
    F_IS_INDENTED,
    F_LOW_ISCORE,
    F_MED_ISCORE,
    F_NEXT_LINE_SAME_BLOCK,
    F_PREV_LINE_SAME_BLOCK,
    T_BASIC,
    T_HAS_ACC,
    T_HAS_ASTERISK,
    T_HAS_BRACKETING,
    T_HAS_CITATION,
    T_HAS_CYR,
    T_HAS_DIA,
    T_HAS_GRAMS,
    T_HAS_GRK,
    T_HAS_JPN,
    T_HAS_KOR,
    T_HAS_LANGNAME,
    T_HAS_LEADING_WHITESPACE,
    T_HAS_NUMBERING,
    T_HAS_PARENTHETICAL,
    T_HAS_QUOTATION,
    T_HAS_UNDERSCORE,
    T_HAS_UNI,
    T_HAS_YEAR,
    T_HIGH_GLS_OOV_RATE,
    T_HIGH_MET_OOV_RATE,
    T_HIGH_OOV_RATE,
    T_MED_OOV_RATE,
)
from ..featurespec import (
    Lexicons,
    _RE_ACC_LAT,
    _RE_BRACKETING,
    _RE_CITATION,
    _RE_CYR,
    _RE_DIA_BUGGY,
    _RE_DIA_FIXED,
    _RE_GRK,
    _RE_HIRAGANA,
    _RE_KANJI,
    _RE_KATAKANA,
    _RE_KOR,
    _RE_LEADING_WS,
    _RE_NUMBERING,
    _RE_PARENTHETICAL,
    _RE_QUOTATION,
    _RE_YEAR,
    _WORD_RE,
)
from ..labels import prev_label_feat
from ..refmodel import ModelWeights


def tokenize_series(texts: pd.Series) -> pd.Series:
    """split_words over a batch: \\w+ findall on the ORIGINAL text, then
    per-token lowercase (reference igtdetect.py:1428-1433; the ':'/'#'
    strip is a no-op on \\w+ tokens).

    NULL CONTRACT: null/NaN text maps to ``[]`` (the ``fillna("")``
    below), the same tokens an empty line yields — deliberate, so
    every output cell is a list and downstream kernels never branch on
    NaN. Callers that must distinguish missing from empty text should
    test for null BEFORE tokenizing (the pipeline pre-fills text, so
    in-engine callers never see the difference).

    Order matters: lowercasing the whole line first can change \\w
    boundaries — 'İ' (U+0130) lowercases to 'i' + U+0307 COMBINING DOT,
    a non-word codepoint, so lower-then-findall splits 'İstanbul' into
    ['i', 'stanbul'] while the reference yields ['i̇stanbul']. U+0130 is
    the ONLY such codepoint in Unicode (exhaustively scanned, pinned in
    tests: every other case mapping is 1:1 with \\w-ness preserved, and
    the other multi-char expansions stay inside \\w), so only rows
    containing it take the token-at-a-time lowercase; everything else
    keeps the fully vectorized lower-then-findall fast path.
    """
    # Direct C calls per line (one lower + one findall) — the earlier
    # pandas form paid _str_map dispatch twice per line plus a third
    # pass for the risky-row check; same values, ~2× faster on mega docs.
    fa = _WORD_RE.findall
    out = [
        [w.lower() for w in fa(t)] if "İ" in t else fa(t.lower())
        for t in texts.fillna("").tolist()
    ]
    return pd.Series(out, index=texts.index, dtype=object)


def static_feature_columns(
    pdf: pd.DataFrame,
    tokens: pd.Series,
    lex: Lexicons,
    cfg: PipelineConfig,
) -> dict[str, np.ndarray]:
    """name → boolean ndarray for every enabled non-word feature.

    ``pdf`` needs: text, page, llx, doc_llx_mode, block_id, prev_block_id,
    next_block_id, fonts, def_font_id, def_font_size, iscore.
    """
    out: dict[str, np.ndarray] = {}
    s = pdf["text"].fillna("")
    # Plain-list + direct ``pattern.search`` beats pandas ``str.contains``
    # ~3× on the regex features (profiled on a 100k-line mega: 0.87 s of
    # the 1.28 s regex cost was pandas ``_str_map`` per-call overhead, not
    # the C regex engine). Per-LINE semantics are unchanged — each search
    # still runs against one line's string.
    texts_list: list[str] = s.tolist()
    n = len(pdf)
    te = cfg.enabled_text_feats
    fe = cfg.enabled_freki_feats

    def contains(pat) -> np.ndarray:
        f = (pat if hasattr(pat, "search") else re.compile(pat)).search
        return np.fromiter(
            (m is not None for m in map(f, texts_list)), dtype=bool, count=n
        )

    # Every unicode-script class matches only non-ASCII codepoints, and most
    # web-text lines are pure ASCII — evaluate the 9 script regexes on the
    # non-ASCII subset only (bitwise parity, big constant-factor win).
    # str.isascii() is a C flag check — far cheaper than the regex scan it
    # replaced (bitwise-identical: isascii() ⟺ no [^\x00-\x7f] match).
    _non_ascii_mask: np.ndarray | None = None
    _non_ascii_texts: list[str] | None = None

    def contains_nonascii(pat) -> np.ndarray:
        nonlocal _non_ascii_mask, _non_ascii_texts
        if _non_ascii_mask is None:
            _non_ascii_mask = np.fromiter(
                (not t.isascii() for t in texts_list), dtype=bool, count=n
            )
            _non_ascii_texts = [t for t in texts_list if not t.isascii()]
        res = np.zeros(n, dtype=bool)
        if _non_ascii_texts:
            f = (pat if hasattr(pat, "search") else re.compile(pat)).search
            res[_non_ascii_mask] = np.fromiter(
                (m is not None for m in map(f, _non_ascii_texts)),
                dtype=bool, count=len(_non_ascii_texts),
            )
        return res

    if cfg.text_feats_enabled:
        if T_HAS_LANGNAME in te:
            ln = lex.langnames
            # set.isdisjoint short-circuits in C — same truth value as
            # any(w in ln for w in tk) without the per-token bytecode
            disj = ln.isdisjoint
            out[T_HAS_LANGNAME] = np.fromiter(
                (not disj(tk) for tk in tokens), dtype=bool, count=n,
            )
        if T_HAS_GRAMS in te:
            v = np.zeros(n, dtype=bool)
            if lex.gram_re is not None:
                v |= contains(lex.gram_re)
            if lex.gram_cased_re is not None:
                v |= contains(lex.gram_cased_re)
            out[T_HAS_GRAMS] = v
        if T_HAS_PARENTHETICAL in te:
            out[T_HAS_PARENTHETICAL] = contains(_RE_PARENTHETICAL)
        if T_HAS_CITATION in te:
            out[T_HAS_CITATION] = contains(_RE_CITATION)
        if T_HAS_ASTERISK in te:
            out[T_HAS_ASTERISK] = np.fromiter(
                ("*" in t for t in texts_list), dtype=bool, count=n
            )
        if T_HAS_UNDERSCORE in te:
            out[T_HAS_UNDERSCORE] = np.fromiter(
                ("_" in t for t in texts_list), dtype=bool, count=n
            )
        if T_HAS_BRACKETING in te:
            out[T_HAS_BRACKETING] = contains(_RE_BRACKETING)
        if T_HAS_QUOTATION in te:
            out[T_HAS_QUOTATION] = contains(_RE_QUOTATION)
        if T_HAS_NUMBERING in te:
            out[T_HAS_NUMBERING] = contains(_RE_NUMBERING)
        if T_HAS_LEADING_WHITESPACE in te:
            out[T_HAS_LEADING_WHITESPACE] = contains(_RE_LEADING_WS)

        if cfg.real_oov_features:
            rates = {}
            for key, ws in (("en", lex.en_words), ("gls", lex.gls_words),
                            ("met", lex.met_words)):
                rates[key] = np.fromiter(
                    (
                        (sum(1 for w in tk if w not in ws) / len(tk)) if tk else 0.0
                        for tk in tokens
                    ),
                    dtype=np.float64, count=n,
                )
            if T_HIGH_OOV_RATE in te:
                out[T_HIGH_OOV_RATE] = rates["en"] >= cfg.high_oov
            if T_MED_OOV_RATE in te:
                out[T_MED_OOV_RATE] = (rates["en"] > cfg.med_oov) & (rates["en"] < cfg.high_oov)
            if T_HIGH_GLS_OOV_RATE in te:
                out[T_HIGH_GLS_OOV_RATE] = rates["gls"] > cfg.high_oov
            if T_HIGH_MET_OOV_RATE in te:
                out[T_HIGH_MET_OOV_RATE] = rates["met"] > cfg.high_oov
        # dead-by-default OOV features are always False → never fire →
        # contribute nothing to X nor to fired-name lists; omit entirely.

        hj = hg = hk = hc = ha = hd = None
        need_uni = T_HAS_UNI in te
        if T_HAS_JPN in te or need_uni:
            hj = (
                contains_nonascii(_RE_KANJI)
                | contains_nonascii(_RE_HIRAGANA)
                | contains_nonascii(_RE_KATAKANA)
            )
        if T_HAS_GRK in te or need_uni:
            hg = contains_nonascii(_RE_GRK)
        if T_HAS_KOR in te or need_uni:
            hk = contains_nonascii(_RE_KOR)
        if T_HAS_CYR in te or need_uni:
            hc = contains_nonascii(_RE_CYR)
        if T_HAS_ACC in te or need_uni:
            ha = contains_nonascii(_RE_ACC_LAT)
        if T_HAS_DIA in te or need_uni:
            hd = contains_nonascii(
                _RE_DIA_BUGGY if cfg.buggy_diacritic_class else _RE_DIA_FIXED
            )
        if T_HAS_JPN in te:
            out[T_HAS_JPN] = hj
        if T_HAS_GRK in te:
            out[T_HAS_GRK] = hg
        if T_HAS_KOR in te:
            out[T_HAS_KOR] = hk
        if T_HAS_CYR in te:
            out[T_HAS_CYR] = hc
        if T_HAS_ACC in te:
            out[T_HAS_ACC] = ha
        if T_HAS_DIA in te:
            out[T_HAS_DIA] = hd
        if need_uni:
            out[T_HAS_UNI] = hc | hd | hg | hj | ha | hk
        if T_HAS_YEAR in te:
            out[T_HAS_YEAR] = contains(_RE_YEAR)

    if cfg.freki_feats_enabled:
        if F_IS_INDENTED in fe:
            llx = pdf["llx"].to_numpy(dtype=np.float64, na_value=0.0)
            mode = pdf["doc_llx_mode"].to_numpy(dtype=np.float64, na_value=np.inf)
            out[F_IS_INDENTED] = llx > mode
        if F_IS_FIRST_PAGE in fe:
            out[F_IS_FIRST_PAGE] = (
                pdf["page"].to_numpy(dtype=np.float64, na_value=0) == 1
            )
        if F_PREV_LINE_SAME_BLOCK in fe:
            out[F_PREV_LINE_SAME_BLOCK] = (
                (pdf["prev_block_id"] == pdf["block_id"])
                & pdf["prev_block_id"].notna()
            ).to_numpy(dtype=bool)
        if F_NEXT_LINE_SAME_BLOCK in fe:
            out[F_NEXT_LINE_SAME_BLOCK] = (
                (pdf["next_block_id"] == pdf["block_id"])
                & pdf["next_block_id"].notna()
            ).to_numpy(dtype=bool)

        font_feats = {F_HAS_NONSTANDARD_FONT, F_HAS_SMALLER_FONT, F_HAS_LARGER_FONT} & fe
        if font_feats:
            nonstd = np.zeros(n, dtype=bool)
            smaller = np.zeros(n, dtype=bool)
            larger = np.zeros(n, dtype=bool)
            def_ids = pdf["def_font_id"].to_numpy(dtype=object)
            def_sizes = pdf["def_font_size"].to_numpy(dtype=object)
            for i, fonts in enumerate(pdf["fonts"].to_numpy(dtype=object)):
                if fonts is None:
                    continue
                did, dsz = def_ids[i], def_sizes[i]
                for f in fonts:
                    fid = f["font_id"] if isinstance(f, dict) else f[0]
                    sz = f["size"] if isinstance(f, dict) else f[1]
                    if did is not None and (fid != did or sz != dsz):
                        nonstd[i] = True
                    elif did is None:
                        nonstd[i] = True
                    if dsz is not None and sz < dsz:
                        smaller[i] = True
                    if dsz is not None and sz > dsz:
                        larger[i] = True
            if F_HAS_NONSTANDARD_FONT in fe:
                out[F_HAS_NONSTANDARD_FONT] = nonstd
            if F_HAS_SMALLER_FONT in fe:
                out[F_HAS_SMALLER_FONT] = smaller
            if F_HAS_LARGER_FONT in fe:
                out[F_HAS_LARGER_FONT] = larger

        iscore_feats = {F_LOW_ISCORE, F_MED_ISCORE, F_HIGH_ISCORE} & fe
        if iscore_feats:
            sc = pdf["iscore"].to_numpy(dtype=np.float64, na_value=0.0)
            sc = np.nan_to_num(sc, nan=0.0)
            if F_LOW_ISCORE in fe:
                out[F_LOW_ISCORE] = ~(sc >= cfg.low_iscore)
            if F_MED_ISCORE in fe:
                out[F_MED_ISCORE] = sc >= cfg.med_iscore
            if F_HIGH_ISCORE in fe:
                out[F_HIGH_ISCORE] = sc >= cfg.high_iscore

    return out


def overlap_feature_columns(
    pdf: pd.DataFrame,
    tokens: pd.Series,
    cfg: PipelineConfig,
) -> dict[str, np.ndarray]:
    """Word-overlap-with-previous-line features (igtdetect.py:453-470),
    computed against the previous line *of the same document* (url
    transitions reset the context). Off by default."""
    n = len(pdf)
    out = {
        "high_overlap": np.zeros(n, dtype=bool),
        "med_overlap": np.zeros(n, dtype=bool),
        "no_overlap": np.zeros(n, dtype=bool),
    }
    urls = pdf["url"].to_numpy(dtype=object)
    tk = tokens.to_numpy(dtype=object)
    prev_words: set | None = None
    prev_url = None
    for i in range(n):
        if urls[i] != prev_url:
            prev_words = None
            prev_url = urls[i]
        words = tk[i]
        if prev_words is not None and words:
            overlapping = sum(1 for w in words if w in prev_words)
            ratio = overlapping / len(words)
            if ratio > cfg.high_overlap:
                out["high_overlap"][i] = True
            if ratio > cfg.med_overlap:
                out["med_overlap"][i] = True
            if ratio == 0:
                out["no_overlap"][i] = True
        prev_words = set(words)
    return out


def base_feature_matrix(
    pdf: pd.DataFrame,
    lex: Lexicons,
    cfg: PipelineConfig,
    model: ModelWeights,
) -> np.ndarray:
    """(n × B) float64 indicator matrix over the model's base vocabulary.

    ``pdf`` must be in document order within each url (the caller slices
    per-document ranges out of it).
    """
    n = len(pdf)
    X = np.zeros((n, model.n_base), dtype=np.float64)
    tokens = tokenize_series(pdf["text"].fillna(""))
    cols = static_feature_columns(pdf, tokens, lex, cfg)
    if cfg.word_overlap and cfg.text_feats_enabled:
        cols.update(overlap_feature_columns(pdf, tokens, cfg))
    idx = model.base_index
    for name, arr in cols.items():
        j = idx.get(name)
        if j is not None:
            X[:, j] = arr
    if cfg.text_feats_enabled and T_BASIC in cfg.enabled_text_feats:
        # Vectorized word-feature scatter: flatten all tokens once
        # (C-level chain), map token → column through a prebuilt
        # token-keyed dict (cached on the model — avoids 600k "word_"+w
        # string concats per mega-doc), and set the hits with ONE fancy-
        # index assignment instead of per-token X[i, j] = 1.0 scalar
        # stores. Same cells set (duplicates are idempotent).
        widx = getattr(model, "_word_col_cache", None)
        if widx is None:
            widx = {k[5:]: j for k, j in idx.items() if k.startswith("word_")}
            try:
                model._word_col_cache = widx
            except Exception:
                pass
        if widx:
            from itertools import chain

            tk_arr = tokens.to_numpy(dtype=object)
            lens = np.fromiter(
                (len(t) for t in tk_arr), dtype=np.int64, count=n
            )
            flat = list(chain.from_iterable(tk_arr))
            if flat:
                rows = np.repeat(np.arange(n), lens)
                cols_s = pd.Series(flat, dtype=object).map(widx)
                valid = cols_s.notna().to_numpy()
                if valid.any():
                    X[rows[valid],
                      cols_s.to_numpy()[valid].astype(np.int64)] = 1.0
    return X


def fired_name_lists(
    pdf: pd.DataFrame,
    lex: Lexicons,
    cfg: PipelineConfig,
) -> list[list[str]]:
    """Sorted fired base-feature names per line (checkpoint/parity path —
    svmlight invariant: only-true, sorted)."""
    n = len(pdf)
    tokens = tokenize_series(pdf["text"].fillna(""))
    cols = static_feature_columns(pdf, tokens, lex, cfg)
    if cfg.word_overlap and cfg.text_feats_enabled:
        cols.update(overlap_feature_columns(pdf, tokens, cfg))
    names = list(cols.keys())
    mat = np.column_stack([cols[c] for c in names]) if names else np.zeros((n, 0), bool)
    tk_arr = tokens.to_numpy(dtype=object)
    use_words = cfg.text_feats_enabled and T_BASIC in cfg.enabled_text_feats
    out: list[list[str]] = []
    for i in range(n):
        f = [names[j] for j in np.nonzero(mat[i])[0]]
        if use_words:
            f.extend("word_" + w for w in tk_arr[i] if w)
        out.append(sorted(set(f)))
    return out


# ---------------------------------------------------------------------------
# Scoring kernels
# ---------------------------------------------------------------------------

def score_matrix(
    X: np.ndarray,
    model: ModelWeights,
    cfg: PipelineConfig,
    want_probs: bool = False,
):
    """Score one document's base matrix → (labels, probs|None).

    Batch path unless the model carries prev_tag features and cfg.prev_tag
    is on (then the strict left-to-right greedy decode runs — reference
    cw.test with prev_label_func, igtdetect.py:1140-1146)."""
    has_prev_tag = model.has_prev_tag if hasattr(model, "has_prev_tag") else any(
        k.startswith("prev_tag_") for k in model.base_index
    )
    if not (cfg.prev_tag and has_prev_tag):
        d = model.decision_doc(X)
        labels = [model.classes[i] for i in d.argmax(axis=1)]
        return labels, (model.probabilities(d) if want_probs else None)

    d_static = model.decision_doc(X)
    L = X.shape[0]
    labels: list[str] = []
    probs = np.zeros_like(d_static) if want_probs else None
    prev = "O"
    for i in range(L):
        di = d_static[i]
        j = model.base_index.get(prev_label_feat(prev))
        if j is not None:
            di = di + model.w_cur[:, j]
        k = int(di.argmax())
        if want_probs:
            probs[i] = model.probabilities(di[None, :])[0]
        prev = model.classes[k]
        labels.append(prev)
    return labels, probs


def label_documents(
    lines: pd.DataFrame,
    doc_slices: list[tuple[str, int, int]],
    lex: Lexicons,
    cfg: PipelineConfig,
    model: ModelWeights,
) -> list[str]:
    """Featurize a batch of whole documents once, then score each
    document's row range — the kernel step every flagship path shares.

    ``doc_slices`` = [(url, start, stop)] row ranges per document; scoring
    per document keeps the sequential decode's state from crossing
    documents."""
    X = base_feature_matrix(lines, lex, cfg, model)
    labels: list[str] = []
    for _, a, b in doc_slices:
        labels.extend(score_matrix(X[a:b], model, cfg)[0])
    return labels


def spans_from_labels(
    urls: np.ndarray,
    line_nos: np.ndarray,
    block_ids: np.ndarray,
    texts: np.ndarray,
    labels: list[str],
    doc_slices: list[tuple[str, int, int]],
    cfg: PipelineConfig,
) -> list[dict]:
    """Detected-span assembly over scored lines (reference classify_docs
    loop semantics incl. block dedup + EOF non-flush quirk; SURVEY §2.4).

    ``doc_slices`` = [(url, start, stop)] row ranges per document.

    A span's text is the concatenation of the **full rendered blocks** it
    touches (the reference writes ``str(line.block)`` — the whole block,
    including any O lines it contains — deduped by block_id in
    first-occurrence order, igtdetect.py:1269-1276)."""
    out: list[dict] = []
    for url, a, b in doc_slices:
        # doc-local full block texts (every line of the doc is in the slice)
        block_text: dict[str, list[str]] = {}
        for i in range(a, b):
            block_text.setdefault(block_ids[i], []).append(texts[i])

        span_no = 0
        cur_blocks: dict[str, None] = {}
        cur_lines: list[int] = []
        cur_tags: list[str] = []

        def flush():
            nonlocal span_no
            if not cur_blocks:
                return
            span_no += 1
            text = "\n".join(
                "\n".join(block_text[bid]) for bid in cur_blocks
            )
            out.append(
                {
                    "url": url,
                    "span_no": span_no,
                    "start_line": int(cur_lines[0]),
                    "end_line": int(cur_lines[-1]),
                    "tags": list(cur_tags),
                    "block_ids": list(cur_blocks.keys()),
                    "text": text,
                }
            )

        for i in range(a, b):
            lab = labels[i]
            if lab == "O":
                if cur_blocks:
                    flush()
                    cur_blocks = {}
                    cur_lines = []
                    cur_tags = []
            else:
                cur_blocks[block_ids[i]] = None
                cur_lines.append(line_nos[i])
                cur_tags.append(lab)
        if cfg.flush_eof_span:
            flush()
    return out
