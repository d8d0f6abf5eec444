"""Vectorized (Arrow-batch) feature extraction + scoring kernels.

These run inside ``mapInPandas``/``applyInPandas`` on executors.  The
text features are whole-batch ``pyarrow.compute`` kernels: each regex
feature is one RE2 ``match_substring_regex`` call over the batch's text
array, using the RE2 spelling kept beside the oracle's Python pattern in
``featurespec`` (Python's Unicode ``\\s`` / ``\\w`` classes and ``re.I``
case folding written out as explicit code points, ``unicode_classes``).
Tokens are ``utf8_lower`` plus an RE2 split into one flat token array
with row ids; ``has_langname`` and the word features are ``is_in`` /
``index_in`` lookups on it.  ``tests/test_arrow_kernel.py`` pins each
RE2 spelling and the tokenizer to Python ``re`` over every code point and
fuzzes the whole kernel against the per-line oracle.

The scoring kernel materializes the per-document boolean base-feature
matrix and applies the context-decomposed weights (``refmodel``) as numpy
matmuls — no per-line Python in the hot path.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

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
    RE2_ACC_LAT,
    RE2_BRACKETING,
    RE2_CITATION,
    RE2_CYR,
    RE2_DIA_BUGGY,
    RE2_DIA_FIXED,
    RE2_GRK,
    RE2_HIRAGANA,
    RE2_KANJI,
    RE2_KATAKANA,
    RE2_KOR,
    RE2_LEADING_WS,
    RE2_NON_WORD,
    RE2_NUMBERING,
    RE2_PARENTHETICAL,
    RE2_QUOTATION,
    RE2_YEAR,
    Lexicons,
    _WORD_RE,
    re2,
)
from ..labels import prev_label_feat
from ..refmodel import ModelWeights

# Rows the Arrow tokenizer hands to Python: utf8_lower maps U+0130 'İ' to
# 'i' where str.lower gives 'i' + U+0307 (a non-word code point that moves
# the \w boundaries), and str.lower picks 'ς' or 'σ' for 'Σ' from the
# surrounding letters, which the reference decides per token.  Every other
# code point lowercases identically and keeps its \w-ness (pinned over
# all of Unicode in the tests).
_ROUTED = "[\u0130\u03a3]"


class TokenBatch:
    """A batch's text as one Arrow array plus its ``split_words`` tokens,
    flattened: ``words[k]`` belongs to row ``rows[k]`` (ascending).

    NULL CONTRACT: null/NaN text is the empty string (no tokens), so every
    row has a token list and downstream kernels never branch on NaN.
    Callers that must tell missing from empty text test for null BEFORE
    tokenizing (the pipeline pre-fills text)."""

    def __init__(self, texts: pd.Series):
        self.n = len(texts)
        self.text = pa.array(texts.fillna("").tolist(), type=pa.string())
        parts = pc.split_pattern_regex(
            pc.utf8_lower(self.text), re2(RE2_NON_WORD)
        )
        words = pc.list_flatten(parts)
        rows = pc.list_parent_indices(parts).to_numpy()
        keep = pc.greater(pc.binary_length(words), 0)
        words, rows = words.filter(keep), rows[keep.to_numpy(zero_copy_only=False)]
        routed = np.flatnonzero(
            pc.match_substring_regex(self.text, _ROUTED).to_numpy(
                zero_copy_only=False
            )
        )
        if routed.size:
            # The reference order: find the \w+ runs first, then lowercase
            # each token by itself.
            py = [
                [w.lower() for w in _WORD_RE.findall(self.text[i].as_py())]
                for i in routed.tolist()
            ]
            mine = ~np.isin(rows, routed)
            rows = np.concatenate(
                [rows[mine], np.repeat(routed, [len(t) for t in py])]
            )
            words = pa.concat_arrays([
                words.filter(pa.array(mine)),
                pa.array(list(chain.from_iterable(py)), type=pa.string()),
            ])
            order = np.argsort(rows, kind="stable")
            words, rows = words.take(order), rows[order]
        self.words: pa.Array = words
        self.rows: np.ndarray = rows

    def rows_where(self, hit: pa.Array) -> np.ndarray:
        """Per-row OR of a per-token boolean array."""
        out = np.zeros(self.n, dtype=bool)
        out[self.rows[hit.to_numpy(zero_copy_only=False)]] = True
        return out

    def lists(self) -> list[list[str]]:
        """Per-row token lists (the ``split_words`` contract)."""
        bounds = np.searchsorted(self.rows, np.arange(self.n + 1))
        words = self.words.to_numpy(zero_copy_only=False).tolist()
        return [words[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def _matches(text: pa.Array, spelling: str) -> np.ndarray:
    return pc.match_substring_regex(text, spelling).to_numpy(zero_copy_only=False)


def _value_set(lex: Lexicons, name: str) -> pa.Array:
    """One of the Lexicons' word sets as an Arrow value set (built once
    per Lexicons object)."""
    return lex.cached(
        "arrow_" + name,
        lambda: pa.array(sorted(getattr(lex, name)), type=pa.string()),
    )


def static_feature_columns(
    pdf: pd.DataFrame,
    tokens: TokenBatch,
    lex: Lexicons,
    cfg: PipelineConfig,
) -> dict[str, np.ndarray]:
    """name → boolean ndarray for every enabled non-word feature.

    ``pdf`` needs: text, page, llx, doc_llx_mode, block_id, prev_block_id,
    next_block_id, fonts, def_font_id, def_font_size, iscore.
    ``tokens`` is ``TokenBatch(pdf["text"])``.
    """
    out: dict[str, np.ndarray] = {}
    text = tokens.text
    n = len(pdf)
    te = cfg.enabled_text_feats
    fe = cfg.enabled_freki_feats

    def contains(spelling: str) -> np.ndarray:
        return _matches(text, re2(spelling))

    if cfg.text_feats_enabled:
        if T_HAS_LANGNAME in te:
            out[T_HAS_LANGNAME] = tokens.rows_where(
                pc.is_in(tokens.words, value_set=_value_set(lex, "langnames"))
            )
        if T_HAS_GRAMS in te:
            v = np.zeros(n, dtype=bool)
            for py_re, spelling in ((lex.gram_re, lex.gram_re2),
                                    (lex.gram_cased_re, lex.gram_cased_re2)):
                if py_re is None:
                    continue
                if spelling is not None:
                    v |= _matches(text, spelling)
                else:  # the gram list uses regex syntax RE2 is not given
                    f = py_re.search
                    v |= np.fromiter(
                        (f(t) is not None
                         for t in text.to_numpy(zero_copy_only=False)),
                        dtype=bool, count=n,
                    )
            out[T_HAS_GRAMS] = v
        if T_HAS_PARENTHETICAL in te:
            out[T_HAS_PARENTHETICAL] = contains(RE2_PARENTHETICAL)
        if T_HAS_CITATION in te:
            out[T_HAS_CITATION] = contains(RE2_CITATION)
        if T_HAS_ASTERISK in te:
            out[T_HAS_ASTERISK] = pc.match_substring(text, "*").to_numpy(
                zero_copy_only=False
            )
        if T_HAS_UNDERSCORE in te:
            out[T_HAS_UNDERSCORE] = pc.match_substring(text, "_").to_numpy(
                zero_copy_only=False
            )
        if T_HAS_BRACKETING in te:
            out[T_HAS_BRACKETING] = contains(RE2_BRACKETING)
        if T_HAS_QUOTATION in te:
            out[T_HAS_QUOTATION] = contains(RE2_QUOTATION)
        if T_HAS_NUMBERING in te:
            out[T_HAS_NUMBERING] = contains(RE2_NUMBERING)
        if T_HAS_LEADING_WHITESPACE in te:
            out[T_HAS_LEADING_WHITESPACE] = contains(RE2_LEADING_WS)

        if cfg.real_oov_features:
            # tokens per row, and tokens absent from each wordlist per row:
            # rate = absent / count (0.0 for a row without tokens), the
            # same int / int division as the per-line spec.
            count = np.bincount(tokens.rows, minlength=n)
            rates = {}
            for key in ("en_words", "gls_words", "met_words"):
                absent = pc.invert(
                    pc.is_in(tokens.words, value_set=_value_set(lex, key))
                ).to_numpy(zero_copy_only=False)
                oov = np.bincount(tokens.rows[absent], minlength=n)
                rates[key] = np.divide(
                    oov, count, out=np.zeros(n, dtype=np.float64),
                    where=count > 0,
                )
            en = rates["en_words"]
            if T_HIGH_OOV_RATE in te:
                out[T_HIGH_OOV_RATE] = en >= cfg.high_oov
            if T_MED_OOV_RATE in te:
                out[T_MED_OOV_RATE] = (en > cfg.med_oov) & (en < cfg.high_oov)
            if T_HIGH_GLS_OOV_RATE in te:
                out[T_HIGH_GLS_OOV_RATE] = rates["gls_words"] > cfg.high_oov
            if T_HIGH_MET_OOV_RATE in te:
                out[T_HIGH_MET_OOV_RATE] = rates["met_words"] > cfg.high_oov
        # dead-by-default OOV features are always False → never fire →
        # contribute nothing to X nor to fired-name lists; omit entirely.

        # The script classes match only non-ASCII code points, and most
        # web lines are pure ASCII: search just the non-ASCII rows.
        non_ascii = pc.invert(pc.string_is_ascii(text))
        non_ascii_rows = non_ascii.to_numpy(zero_copy_only=False)
        non_ascii_text = text.filter(non_ascii)

        def contains_non_ascii(spelling: str) -> np.ndarray:
            res = np.zeros(n, dtype=bool)
            res[non_ascii_rows] = _matches(non_ascii_text, spelling)
            return res

        hj = hg = hk = hc = ha = hd = None
        need_uni = T_HAS_UNI in te
        if T_HAS_JPN in te or need_uni:
            hj = (
                contains_non_ascii(RE2_KANJI)
                | contains_non_ascii(RE2_HIRAGANA)
                | contains_non_ascii(RE2_KATAKANA)
            )
        if T_HAS_GRK in te or need_uni:
            hg = contains_non_ascii(RE2_GRK)
        if T_HAS_KOR in te or need_uni:
            hk = contains_non_ascii(RE2_KOR)
        if T_HAS_CYR in te or need_uni:
            hc = contains_non_ascii(RE2_CYR)
        if T_HAS_ACC in te or need_uni:
            ha = contains_non_ascii(RE2_ACC_LAT)
        if T_HAS_DIA in te or need_uni:
            hd = contains_non_ascii(
                RE2_DIA_BUGGY if cfg.buggy_diacritic_class else RE2_DIA_FIXED
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
            out[T_HAS_YEAR] = contains(RE2_YEAR)

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
    tokens: list[list[str]],
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
    prev_words: set | None = None
    prev_url = None
    for i in range(n):
        if urls[i] != prev_url:
            prev_words = None
            prev_url = urls[i]
        words = tokens[i]
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
    tokens = TokenBatch(pdf["text"])
    cols = static_feature_columns(pdf, tokens, lex, cfg)
    if cfg.word_overlap and cfg.text_feats_enabled:
        cols.update(overlap_feature_columns(pdf, tokens.lists(), cfg))
    idx = model.base_index
    for name, arr in cols.items():
        j = idx.get(name)
        if j is not None:
            X[:, j] = arr
    if cfg.text_feats_enabled and T_BASIC in cfg.enabled_text_feats:
        # Word features: look every token up in the model's word
        # vocabulary at once and set the hits with one fancy-index
        # assignment (duplicates are idempotent).
        vocab = getattr(model, "_word_vocab", None)
        if vocab is None:
            words = [k for k in model.base_names if k.startswith("word_")]
            vocab = model._word_vocab = (
                pa.array([k[5:] for k in words], type=pa.string()),
                np.array([idx[k] for k in words], dtype=np.int64),
            )
        pos = pc.index_in(tokens.words, value_set=vocab[0])
        hit = pos.is_valid()
        X[tokens.rows[hit.to_numpy(zero_copy_only=False)],
          vocab[1][pos.filter(hit).to_numpy()]] = 1.0
    return X


def fired_name_lists(
    pdf: pd.DataFrame,
    lex: Lexicons,
    cfg: PipelineConfig,
) -> list[list[str]]:
    """Sorted fired base-feature names per line (checkpoint/parity path —
    svmlight invariant: only-true, sorted)."""
    n = len(pdf)
    tokens = TokenBatch(pdf["text"])
    cols = static_feature_columns(pdf, tokens, lex, cfg)
    if cfg.word_overlap and cfg.text_feats_enabled:
        cols.update(overlap_feature_columns(pdf, tokens.lists(), cfg))
    names = list(cols.keys())
    mat = np.column_stack([cols[c] for c in names]) if names else np.zeros((n, 0), bool)
    use_words = cfg.text_feats_enabled and T_BASIC in cfg.enabled_text_feats
    words = tokens.lists() if use_words else [[]] * n
    out: list[list[str]] = []
    for i in range(n):
        f = [names[j] for j in np.nonzero(mat[i])[0]]
        f.extend("word_" + w for w in words[i])
        out.append(sorted(set(f)))
    return out


# ---------------------------------------------------------------------------
# Scoring kernels
# ---------------------------------------------------------------------------

def score_matrix(
    X: np.ndarray,
    model: ModelWeights,
    cfg: PipelineConfig,
):
    """Score one document's base matrix → (labels, None); callers take
    item [0].

    Batch path unless the model carries prev_tag features and cfg.prev_tag
    is on (then the strict left-to-right greedy decode runs — reference
    cw.test with prev_label_func, igtdetect.py:1140-1146)."""
    has_prev_tag = model.has_prev_tag if hasattr(model, "has_prev_tag") else any(
        k.startswith("prev_tag_") for k in model.base_index
    )
    if not (cfg.prev_tag and has_prev_tag):
        d = model.decision_doc(X)
        labels = [model.classes[i] for i in d.argmax(axis=1)]
        return labels, None

    d_static = model.decision_doc(X)
    L = X.shape[0]
    labels: list[str] = []
    prev = "O"
    for i in range(L):
        di = d_static[i]
        j = model.base_index.get(prev_label_feat(prev))
        if j is not None:
            di = di + model.w_cur[:, j]
        k = int(di.argmax())
        prev = model.classes[k]
        labels.append(prev)
    return labels, None


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
    # The loop below reads one element at a time, which is cheaper from a
    # list than from a numpy array.
    line_nos, block_ids, texts = (
        x.tolist() if isinstance(x, np.ndarray) else x
        for x in (line_nos, block_ids, texts)
    )
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
