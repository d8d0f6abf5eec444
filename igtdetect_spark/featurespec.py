"""Per-line feature semantics — the executable specification.

Pure-Python reimplementation of the reference's per-line feature functions
(``igtdetect/igtdetect.py:136-855``), used by the single-node oracle. The
Spark Arrow kernels (``operators/vectorized.py``) evaluate the same
patterns with RE2, from the RE2 spelling kept beside each Python pattern
below; tests pin the two engines equal over every code point. Golden
fixture tests pin these semantics against hand-verified expectations from
the reference sample docs.

Parity quirks deliberately replicated (SURVEY.md §2.2):

- ``has_dia``'s first character class contains a literal U+2013 EN DASH
  (``igtdetect.py:693`` — verified byte-level), so it matches {U+0300,
  U+2013, U+036F} instead of the full combining range.
- the four OOV-rate features are dead code in the reference (no wordlist is
  ever passed, ``igtdetect.py:174-185`` vs ``:780-781``) → always False.
- ``med_gls_oov`` is declared but never computed (env.py:214) → absent.
- tokens drop ``:`` and ``#`` (svmlight-reserved, ``igtdetect.py:1428-1433``).
"""

from __future__ import annotations

import re
from typing import Iterable, Optional, Sequence

from . import unicode_classes
from .config import (
    DEFAULT_CONFIG,
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

# ---------------------------------------------------------------------------
# Tokenizer (reference split_words, igtdetect.py:1428-1433)
# ---------------------------------------------------------------------------

_WORD_RE = re.compile(r"\w+", re.UNICODE)
# RE2 spelling of the separators between _WORD_RE's tokens ({W} is
# Python's \w class, filled in by re2()).
RE2_NON_WORD = r"[^{W}]+"

YEAR_STR = "(?:1[8-9][0-9][0-9]|20[0-1][0-9])"  # igtdetect.py:617

# Precompiled feature regexes (reference compiles per call; semantics equal),
# each followed by its RE2 spelling for the Arrow kernel
# (operators/vectorized.py).  RE2's \s is ASCII-only, so the RE2 spellings
# write Python's \s class as the placeholder ``{S}`` (``[{S}]`` for \s,
# ``[^{S}]`` for \S), which ``re2()`` fills with explicit code points.
# Python and RE2 agree on everything else used here: ``.`` excludes only
# \n, negated classes include \n, ``^`` anchors at the start of the text,
# and the script classes are plain code-point ranges.  Where the two
# spellings are the same, the RE2 one is the Python pattern's own text.
_RE_PARENTHETICAL = re.compile(r"\(.*\)")
RE2_PARENTHETICAL = _RE_PARENTHETICAL.pattern
_RE_CITATION = re.compile(r"\([^,]+, " + YEAR_STR + r"\)")
RE2_CITATION = _RE_CITATION.pattern
_RE_YEAR = re.compile(YEAR_STR)
RE2_YEAR = _RE_YEAR.pattern
_RE_BRACKETING = re.compile(r"\[.*\]")
RE2_BRACKETING = _RE_BRACKETING.pattern
_RE_NUMBERING = re.compile(r"^\s*\(?[0-9a-z]+[\)\.]")
RE2_NUMBERING = r"^[{S}]*\(?[0-9a-z]+[\)\.]"
_RE_LEADING_WS = re.compile(r"^\s+")
RE2_LEADING_WS = r"^[{S}]+"
_RE_QUOTATION = re.compile(r"['\"‘`“]\S+\s+.+['\"’”]")
RE2_QUOTATION = r"['\"‘`“][^{S}]+[{S}]+.+['\"’”]"
_RE_CYR = re.compile("[Ѐ-ӿ]", re.UNICODE)
RE2_CYR = _RE_CYR.pattern
# NB: first class is [̀ EN-DASH ͯ] — three literal chars, matching
# the reference byte-for-byte (igtdetect.py:693).
_RE_DIA_BUGGY = re.compile(
    "[̀–ͯ]|[᪰-᫿]|[᷀-᷿]|[⃐-⃿]|[︠-︯]",
    re.UNICODE,
)
RE2_DIA_BUGGY = _RE_DIA_BUGGY.pattern
_RE_GRK = re.compile("[Ͱ-Ͽ]|[ἀ-῿]", re.UNICODE)
RE2_GRK = _RE_GRK.pattern
_RE_KANJI = re.compile("[一-龿]", re.UNICODE)
RE2_KANJI = _RE_KANJI.pattern
_RE_HIRAGANA = re.compile("[぀-ゟ]", re.UNICODE)
RE2_HIRAGANA = _RE_HIRAGANA.pattern
_RE_KATAKANA = re.compile("[゠-ヿ]", re.UNICODE)
RE2_KATAKANA = _RE_KATAKANA.pattern
_RE_ACC_LAT = re.compile("[À-ÿ]", re.UNICODE)
RE2_ACC_LAT = _RE_ACC_LAT.pattern
_RE_KOR = re.compile("[가-힣]", re.UNICODE)
RE2_KOR = _RE_KOR.pattern


def re2(spelling: str) -> str:
    """An RE2 spelling above with Python's \\s / \\w classes filled in."""
    return spelling.replace("{S}", unicode_classes.space_set()).replace(
        "{W}", unicode_classes.word_set()
    )


def split_words(sent: str) -> list[str]:
    """\\w+ tokens, lowercased, svmlight-reserved ``:``/``#`` stripped."""
    return [
        m.group(0).lower().replace(":", "").replace("#", "")
        for m in _WORD_RE.finditer(sent)
    ]


def compile_gram_re(gram_list: Iterable[str], case_insensitive: bool):
    """The reference joins the raw gram list with ``|`` — substring match,
    no word boundaries (igtdetect.py:599-605)."""
    grams = [g for g in gram_list]
    if not grams:
        return None
    return re.compile("|".join(grams), re.I if case_insensitive else 0)


_REGEX_SYNTAX = frozenset("\\^$*+?{}[]|()")


def gram_re2(gram_list: Sequence[str], case_insensitive: bool) -> Optional[str]:
    """RE2 spelling of ``compile_gram_re``'s pattern, or None when the
    list is empty or a gram uses regex syntax other than ``.`` (those
    lists stay on Python ``re``).  Under ``re.I`` each cased letter
    becomes the class of code points Python folds to it."""
    if not gram_list or any(c in _REGEX_SYNTAX for g in gram_list for c in g):
        return None
    return "|".join(
        "".join(
            "." if c == "." else unicode_classes.re2_literal(c, case_insensitive)
            for c in g
        )
        for g in gram_list
    )


class Lexicons:
    """Broadcast-able lookup sets + precompiled gram regexes."""

    def __init__(
        self,
        langnames: frozenset[str] = frozenset(),
        gram_list: Sequence[str] = (),
        gram_list_cased: Sequence[str] = (),
    ):
        self.langnames = langnames
        self.gram_list = list(gram_list)
        self.gram_list_cased = list(gram_list_cased)
        self.gram_re = compile_gram_re(gram_list, case_insensitive=True)
        self.gram_cased_re = compile_gram_re(gram_list_cased, case_insensitive=False)

    def __getstate__(self):
        state = self.__dict__.copy()
        state.pop("_cache", None)
        return state

    def cached(self, key: str, make):
        """``make()``, computed once per Lexicons object.  Not pickled:
        a worker derives it with its own interpreter's tables."""
        cache = self.__dict__.setdefault("_cache", {})
        if key not in cache:
            cache[key] = make()
        return cache[key]

    @property
    def gram_re2(self) -> Optional[str]:
        return self.cached("gram_re2", lambda: gram_re2(self.gram_list, True))

    @property
    def gram_cased_re2(self) -> Optional[str]:
        return self.cached(
            "gram_cased_re2", lambda: gram_re2(self.gram_list_cased, False)
        )


EMPTY_LEXICONS = Lexicons()


def text_features(
    text: str,
    lex: Lexicons,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    words: Optional[list[str]] = None,
) -> dict[str, bool]:
    """All text features for one line (reference get_textfeats,
    igtdetect.py:136-187). Returns the full name→bool dict; only True
    entries are ever serialized (write_training_vector :535-539)."""
    if words is None:
        words = split_words(text)
    feats: dict[str, bool] = {}
    enabled = cfg.enabled_text_feats

    if T_BASIC in enabled:
        for w in words:
            if w:
                feats["word_" + w] = True

    if T_HAS_LANGNAME in enabled:
        feats[T_HAS_LANGNAME] = any(w in lex.langnames for w in words)
    if T_HAS_GRAMS in enabled:
        feats[T_HAS_GRAMS] = bool(
            (lex.gram_re is not None and bool(lex.gram_re.search(text)))
            or (lex.gram_cased_re is not None and lex.gram_cased_re.search(text))
        )
    if T_HAS_PARENTHETICAL in enabled:
        feats[T_HAS_PARENTHETICAL] = bool(_RE_PARENTHETICAL.search(text))
    if T_HAS_CITATION in enabled:
        feats[T_HAS_CITATION] = bool(_RE_CITATION.search(text))
    if T_HAS_ASTERISK in enabled:
        feats[T_HAS_ASTERISK] = "*" in text
    if T_HAS_UNDERSCORE in enabled:
        feats[T_HAS_UNDERSCORE] = "_" in text
    if T_HAS_BRACKETING in enabled:
        feats[T_HAS_BRACKETING] = bool(_RE_BRACKETING.search(text))
    if T_HAS_QUOTATION in enabled:
        feats[T_HAS_QUOTATION] = bool(_RE_QUOTATION.search(text))
    if T_HAS_NUMBERING in enabled:
        feats[T_HAS_NUMBERING] = bool(_RE_NUMBERING.search(text))
    if T_HAS_LEADING_WHITESPACE in enabled:
        feats[T_HAS_LEADING_WHITESPACE] = bool(_RE_LEADING_WS.search(text))

    # OOV features: dead code in the reference — always False (SURVEY §2.2)
    if T_HIGH_OOV_RATE in enabled:
        feats[T_HIGH_OOV_RATE] = False
    if T_MED_OOV_RATE in enabled:
        feats[T_MED_OOV_RATE] = False
    if T_HIGH_GLS_OOV_RATE in enabled:
        feats[T_HIGH_GLS_OOV_RATE] = False
    if T_HIGH_MET_OOV_RATE in enabled:
        feats[T_HIGH_MET_OOV_RATE] = False

    hj = hg = hk = hc = ha = hd = False
    if T_HAS_JPN in enabled or T_HAS_UNI in enabled:
        hj = bool(
            _RE_KANJI.search(text)
            or _RE_HIRAGANA.search(text)
            or _RE_KATAKANA.search(text)
        )
    if T_HAS_GRK in enabled or T_HAS_UNI in enabled:
        hg = bool(_RE_GRK.search(text))
    if T_HAS_KOR in enabled or T_HAS_UNI in enabled:
        hk = bool(_RE_KOR.search(text))
    if T_HAS_CYR in enabled or T_HAS_UNI in enabled:
        hc = bool(_RE_CYR.search(text))
    if T_HAS_ACC in enabled or T_HAS_UNI in enabled:
        ha = bool(_RE_ACC_LAT.search(text))
    if T_HAS_DIA in enabled or T_HAS_UNI in enabled:
        hd = bool(_RE_DIA_BUGGY.search(text))

    if T_HAS_JPN in enabled:
        feats[T_HAS_JPN] = hj
    if T_HAS_GRK in enabled:
        feats[T_HAS_GRK] = hg
    if T_HAS_KOR in enabled:
        feats[T_HAS_KOR] = hk
    if T_HAS_CYR in enabled:
        feats[T_HAS_CYR] = hc
    if T_HAS_ACC in enabled:
        feats[T_HAS_ACC] = ha
    if T_HAS_DIA in enabled:
        feats[T_HAS_DIA] = hd
    if T_HAS_UNI in enabled:
        feats[T_HAS_UNI] = hc or hd or hg or hj or ha or hk
    if T_HAS_YEAR in enabled:
        feats[T_HAS_YEAR] = bool(_RE_YEAR.search(text))

    return feats


def freki_features(
    page: int,
    block_id: str,
    llx: float,
    fonts: Sequence[tuple[str, float]],
    iscore: Optional[float],
    prev_block_id: Optional[str],
    next_block_id: Optional[str],
    doc_llx_mode: Optional[float],
    doc_def_font: Optional[tuple[str, float]],
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict[str, bool]:
    """Layout features for one line (reference get_frekifeats,
    igtdetect.py:189-222 and the feature functions :546-596, :837-855)."""
    feats: dict[str, bool] = {}
    enabled = cfg.enabled_freki_feats
    def_size = doc_def_font[1] if doc_def_font is not None else None

    if F_IS_INDENTED in enabled:
        feats[F_IS_INDENTED] = (
            doc_llx_mode is not None and llx > doc_llx_mode
        )
    if F_IS_FIRST_PAGE in enabled:
        feats[F_IS_FIRST_PAGE] = page == 1
    if F_PREV_LINE_SAME_BLOCK in enabled:
        feats[F_PREV_LINE_SAME_BLOCK] = (
            prev_block_id is not None and prev_block_id == block_id
        )
    if F_NEXT_LINE_SAME_BLOCK in enabled:
        feats[F_NEXT_LINE_SAME_BLOCK] = (
            next_block_id is not None and next_block_id == block_id
        )
    if F_HAS_NONSTANDARD_FONT in enabled:
        feats[F_HAS_NONSTANDARD_FONT] = bool(
            set(map(tuple, fonts)) - {tuple(doc_def_font)} if doc_def_font else set(map(tuple, fonts))
        )
    if F_HAS_SMALLER_FONT in enabled:
        feats[F_HAS_SMALLER_FONT] = def_size is not None and any(
            sz < def_size for _, sz in fonts
        )
    if F_HAS_LARGER_FONT in enabled:
        feats[F_HAS_LARGER_FONT] = def_size is not None and any(
            sz > def_size for _, sz in fonts
        )

    sc = iscore if iscore is not None else 0.0
    if F_LOW_ISCORE in enabled:
        feats[F_LOW_ISCORE] = not (sc >= cfg.low_iscore)
    if F_MED_ISCORE in enabled:
        feats[F_MED_ISCORE] = sc >= cfg.med_iscore
    if F_HIGH_ISCORE in enabled:
        feats[F_HIGH_ISCORE] = sc >= cfg.high_iscore

    return feats


def overlap_features(
    words: Sequence[str],
    prev_words: Optional[set[str]],
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict[str, bool]:
    """Word-overlap-with-previous-line features (igtdetect.py:453-470).
    Off by default (``word_overlap`` is not set in defaults.ini)."""
    feats: dict[str, bool] = {}
    if not cfg.word_overlap or prev_words is None or not words:
        return feats
    overlapping = sum(1 for w in words if w in prev_words)
    ratio = overlapping / len(words)
    if ratio > cfg.high_overlap:
        feats["high_overlap"] = True
    if ratio > cfg.med_overlap:
        feats["med_overlap"] = True
    if ratio == 0:
        feats["no_overlap"] = True
    return feats


def widen_context(
    feat_dict: dict[int, dict[str, bool]],
    lineno: int,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict[str, bool]:
    """prev_/prev_prev_/next_ context widening (get_all_line_feats,
    igtdetect.py:225-257). Keyed by lineno — gaps (blank lines) behave
    exactly like the reference dict lookups."""
    all_feats = dict(feat_dict[lineno])
    if cfg.use_prev_prev_line:
        for k, v in feat_dict.get(lineno - 2, {}).items():
            all_feats["prev_prev_" + k] = v
    if cfg.use_prev_line:
        for k, v in feat_dict.get(lineno - 1, {}).items():
            all_feats["prev_" + k] = v
    if cfg.use_next_line:
        for k, v in feat_dict.get(lineno + 1, {}).items():
            all_feats["next_" + k] = v
    return all_feats


def fired(feats: dict[str, bool]) -> list[str]:
    """Sorted list of fired feature names — the svmlight-writer invariant
    (only true features, sorted; igtdetect.py:535-539)."""
    return sorted(k for k, v in feats.items() if v)


def render_svmlight(label: str, feats: dict[str, bool]) -> str:
    """One svmlight line exactly as write_training_vector emits it."""
    parts = [label]
    for k in sorted(feats.keys()):
        if feats[k]:
            parts.append(f"{k}:1")
    return "\t".join(parts)
