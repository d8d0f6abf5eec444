"""Exhaustive parity of the Arrow (RE2) feature kernel with Python ``re``.

``operators/vectorized.py`` evaluates the line features with RE2 spellings
of the oracle's Python patterns (``featurespec``) and tokenizes with
``pyarrow.compute.utf8_lower`` plus an RE2 split.  These tests pin every
piece of that translation over every Unicode code point, and fuzz the
whole feature matrix against the per-line oracle.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from igtdetect_spark import featurespec as fs
from igtdetect_spark import unicode_classes as uc

# Every code point a UTF-8 string can hold.
ALL_CHARS = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]

# (Python pattern, RE2 spelling) for every fixed feature pattern.
FIXED = {
    "parenthetical": (fs._RE_PARENTHETICAL, fs.RE2_PARENTHETICAL),
    "citation": (fs._RE_CITATION, fs.RE2_CITATION),
    "year": (fs._RE_YEAR, fs.RE2_YEAR),
    "bracketing": (fs._RE_BRACKETING, fs.RE2_BRACKETING),
    "numbering": (fs._RE_NUMBERING, fs.RE2_NUMBERING),
    "leading_ws": (fs._RE_LEADING_WS, fs.RE2_LEADING_WS),
    "quotation": (fs._RE_QUOTATION, fs.RE2_QUOTATION),
    "cyr": (fs._RE_CYR, fs.RE2_CYR),
    "dia_buggy": (fs._RE_DIA_BUGGY, fs.RE2_DIA_BUGGY),
    "grk": (fs._RE_GRK, fs.RE2_GRK),
    "kanji": (fs._RE_KANJI, fs.RE2_KANJI),
    "hiragana": (fs._RE_HIRAGANA, fs.RE2_HIRAGANA),
    "katakana": (fs._RE_KATAKANA, fs.RE2_KATAKANA),
    "acc_lat": (fs._RE_ACC_LAT, fs.RE2_ACC_LAT),
    "kor": (fs._RE_KOR, fs.RE2_KOR),
}

# Templates that put the code point where each pattern's class-sensitive
# part reads it: \s / \S runs, '.', and the newline-including [^,].
CONTEXTS = {
    "parenthetical": ["({})"],
    "citation": ["({}, 1999)"],
    "bracketing": ["[{}]"],
    "numbering": ["{}1)", "{}(a."],
    "leading_ws": ["{}x"],
    "quotation": ["'a{}b'", "'{} b'", "'a {}'"],
}


def _re2_hits(texts: list[str], spelling: str) -> np.ndarray:
    arr = pa.array(texts, type=pa.string())
    return pc.match_substring_regex(arr, fs.re2(spelling)).to_numpy(
        zero_copy_only=False
    )


def _py_hits(texts: list[str], pattern: re.Pattern) -> np.ndarray:
    f = pattern.search
    return np.fromiter((f(t) is not None for t in texts), dtype=bool,
                       count=len(texts))


def _disagreements(texts, pattern, spelling) -> list[str]:
    diff = _re2_hits(texts, spelling) != _py_hits(texts, pattern)
    return [texts[i] for i in np.flatnonzero(diff)[:5]]


def test_checked_in_tables_match_this_interpreter():
    """``_unicode_tables.py`` is exactly what tools/gen_unicode_classes.py
    would write now; regenerate it when this fails."""
    import os

    path = os.path.join(os.path.dirname(uc.__file__), "_unicode_tables.py")
    with open(path, encoding="utf-8") as f:
        checked_in = f.read()
    assert checked_in == uc.render_module(uc.build_tables())


@pytest.mark.parametrize("name", sorted(FIXED))
def test_fixed_pattern_agrees_on_every_code_point(name):
    pattern, spelling = FIXED[name]
    assert _disagreements(ALL_CHARS, pattern, spelling) == []
    for tpl in CONTEXTS.get(name, []):
        texts = [tpl.format(c) for c in ALL_CHARS]
        assert _disagreements(texts, pattern, spelling) == [], tpl


def test_utf8_lower_agrees_with_str_lower_outside_routed_rows():
    """utf8_lower equals str.lower on every code point except U+0130,
    alone and after a cased letter (where str.lower gives U+03A3 its
    final form); rows holding either are tokenized in Python."""
    from igtdetect_spark.operators.vectorized import _ROUTED

    routed = re.compile(_ROUTED)
    for tpl in ("{}", "A{}"):
        texts = [tpl.format(c) for c in ALL_CHARS]
        got = pc.utf8_lower(pa.array(texts, type=pa.string())).to_pylist()
        bad = {t for t, g in zip(texts, got) if g != t.lower()}
        assert all(routed.search(t) for t in bad), sorted(bad)[:5]


def test_tokenizer_agrees_with_split_words_on_every_code_point():
    from igtdetect_spark.operators.vectorized import TokenBatch

    texts = [f"x{c}Y {c}.{c}" for c in ALL_CHARS]
    tb = TokenBatch(pd.Series(texts, dtype=object))
    want_words, want_rows = [], []
    for i, t in enumerate(texts):
        w = fs.split_words(t)
        want_words.extend(w)
        want_rows.extend([i] * len(w))
    assert tb.rows.tolist() == want_rows
    assert tb.words.to_pylist() == want_words


def test_final_sigma_is_decided_per_token():
    """split_words lowercases each token alone, so a token-final 'Σ' is
    'ς' even when a letter follows after a case-ignorable separator;
    lowercasing the whole line first would give 'σ'."""
    from igtdetect_spark.operators.vectorized import TokenBatch

    texts = ["ΑΣ'Α", "ΟΔΥΣΣΕΥΣ.Α", "ΣΑ Σ", "İSTANBUL'Σ"]
    got = TokenBatch(pd.Series(texts, dtype=object)).lists()
    assert got == [fs.split_words(t) for t in texts]
    assert got[0] == ["ας", "α"]


# Letters whose re.I class is checked against every code point: ASCII,
# the known cross-script folds, and Greek/Cyrillic/Armenian samples.
FOLD_LETTERS = (
    [chr(c) for c in range(0x41, 0x5B)] + [chr(c) for c in range(0x61, 0x7B)]
    + list("ſKıİßẞΣσςµÅΩΘϑϴιͅΐΰǅǈǋǲДвᲀꙋṡẛЖжԱաⰀⓐ")
)


def test_gram_classes_match_re_ignorecase_on_every_code_point():
    everything = "".join(ALL_CHARS)
    arr = pa.array(ALL_CHARS, type=pa.string())
    for ch in FOLD_LETTERS:
        want = set(re.findall(re.escape(ch), everything, re.I))
        spelling = "^" + uc.re2_literal(ch, ignore_case=True) + "$"
        hits = pc.match_substring_regex(arr, spelling).to_numpy(
            zero_copy_only=False
        )
        assert {ALL_CHARS[i] for i in np.flatnonzero(hits)} == want, ch
        plain = pc.match_substring_regex(
            arr, "^" + uc.re2_literal(ch, ignore_case=False) + "$"
        ).to_numpy(zero_copy_only=False)
        assert [ALL_CHARS[i] for i in np.flatnonzero(plain)] == [ch]


def test_gram_lists_outside_the_literal_subset_stay_on_python_re():
    assert fs.gram_re2(["a+b"], True) is None
    assert fs.gram_re2([], False) is None
    assert fs.gram_re2(["1SG.PRON", "3_PL"], False) is not None


# ---------------------------------------------------------------------------
# Whole-kernel fuzz against the per-line oracle
# ---------------------------------------------------------------------------

_SPECIALS = (
    "\x1c\x1f\x85\xa0　  \t\x0b([)]'\"‘“’”`*_,. "
    "ſKkİıiΣσςsS1SG.PRON3_PLnomDAT 1999 2019 (a, 1999) 3) "
    "ÀÿЀӿ̀–ͯ一ぁァ가Ͱἀ᷀"
)
_line = st.text(
    alphabet=st.one_of(
        st.sampled_from(_SPECIALS),
        st.characters(blacklist_categories=("Cs",), blacklist_characters="\n\r\x0c"),
    ),
    max_size=40,
)

_FUZZ_LEX = fs.Lexicons(
    langnames=frozenset({"english", "straße", "i̇stanbul", "σοφίας", "k", "ı"}),
    gram_list=["1SG", "ks", "ſt", "NOM", "ı"],
    gram_list_cased=["1SG.PRON", "3_PL", "Σ"],
)
_REGEX_LEX = fs.Lexicons(gram_list=["s+t", "(ı|K)a"], gram_list_cased=["x?Σ"])


def _cfg(**kw):
    from igtdetect_spark.config import DEFAULT_CONFIG, T_HIGH_MET_OOV_RATE

    return DEFAULT_CONFIG.with_(
        freki_feats_enabled=False,
        enabled_text_feats=DEFAULT_CONFIG.enabled_text_feats
        | {T_HIGH_MET_OOV_RATE},
        **kw,
    )


def _oracle_names(texts, lex, cfg) -> list[list[str]]:
    out, prev = [], None
    for t in texts:
        words = fs.split_words(t)
        feats = fs.text_features(t, lex, cfg, words)
        feats.update(fs.overlap_features(words, prev, cfg))
        prev = set(words)
        out.append(fs.fired(feats))
    return out


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_line, max_size=25),
    st.sampled_from(["default", "overlap", "regex"]),
)
def test_feature_kernel_matches_per_line_oracle(texts, variant):
    from igtdetect_spark.operators.vectorized import (
        base_feature_matrix,
        fired_name_lists,
    )
    from igtdetect_spark.refmodel import ModelWeights

    cfg = _cfg(word_overlap=variant == "overlap")
    lex = _REGEX_LEX if variant == "regex" else _FUZZ_LEX
    pdf = pd.DataFrame({"url": "u", "text": pd.Series(texts, dtype=object)})
    want = _oracle_names(texts, lex, cfg)
    assert fired_name_lists(pdf, lex, cfg) == want

    names = sorted({f for fs_ in want for f in fs_} | {"word_zz", "has_grams"})
    zeros = np.zeros((1, len(names)))
    model = ModelWeights(
        classes=["O"], base_names=names,
        base_index={k: i for i, k in enumerate(names)},
        w_cur=zeros, w_prev=zeros, w_prev_prev=zeros, w_next=zeros,
        intercept=np.zeros(1),
    )
    X = base_feature_matrix(pdf, lex, cfg, model)
    got = [[names[j] for j in np.flatnonzero(row)] for row in X]
    assert got == want
