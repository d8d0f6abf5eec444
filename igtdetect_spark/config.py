"""Pipeline configuration.

Replaces the reference's layered INI config (``igtdetect/env.py:22-43``,
``defaults.ini.sample``) with a plain dataclass threaded into UDF closures.
Feature gating becomes column selection — Catalyst prunes disabled feature
columns for free. ``load_ini``/``PipelineConfig.from_ini`` provide the
on-ramp for reference workflows with a tuned ini: the reference cascade
(defaults file, then ``-c`` alternate overriding section-by-section,
igtdetect.py:1696-1714) maps onto the dataclass, and [paths]/[files]
entries are resolved relative to each ini's own directory (env.py:14-21).
"""

from __future__ import annotations

import os
from configparser import ConfigParser
from dataclasses import dataclass, field, replace

# ---------------------------------------------------------------------------
# Feature-name constants (reference: igtdetect/env.py:183-227)
# ---------------------------------------------------------------------------

F_IS_INDENTED = "is_indented"
F_IS_FIRST_PAGE = "is_first_page"
F_PREV_LINE_SAME_BLOCK = "prev_line_same_block"
F_NEXT_LINE_SAME_BLOCK = "next_line_same_block"
F_HAS_NONSTANDARD_FONT = "has_nonstandard_font"
F_HAS_SMALLER_FONT = "has_smaller_font"
F_HAS_LARGER_FONT = "has_larger_font"
F_HIGH_ISCORE = "f_high_iscore"
F_MED_ISCORE = "f_med_iscore"
F_LOW_ISCORE = "f_low_iscore"

F_LIST = [
    F_IS_INDENTED, F_IS_FIRST_PAGE, F_PREV_LINE_SAME_BLOCK,
    F_NEXT_LINE_SAME_BLOCK, F_HAS_NONSTANDARD_FONT, F_HAS_SMALLER_FONT,
    F_HAS_LARGER_FONT, F_HIGH_ISCORE, F_MED_ISCORE, F_LOW_ISCORE,
]

T_PREV_TAG = "prev_tag"
T_BASIC = "words"
T_HAS_LANGNAME = "has_langname"
T_HAS_GRAMS = "has_grams"
T_HAS_PARENTHETICAL = "has_parenthetical"
T_HAS_CITATION = "has_citation"
T_HAS_ASTERISK = "has_asterisk"
T_HAS_UNDERSCORE = "has_underscore"
T_HAS_BRACKETING = "has_bracketing"
T_HAS_QUOTATION = "has_quotation"
T_HAS_NUMBERING = "has_numbering"
T_HAS_LEADING_WHITESPACE = "has_leading_whitespace"
T_HIGH_OOV_RATE = "high_oov_rate"
T_MED_OOV_RATE = "med_oov_rate"
T_HIGH_GLS_OOV_RATE = "high_gls_oov"
T_HIGH_MET_OOV_RATE = "high_met_oov"
T_MED_GLS_OOV_RATE = "med_gls_oov"
T_HAS_JPN = "has_jpn"
T_HAS_GRK = "has_grk"
T_HAS_KOR = "has_kor"
T_HAS_CYR = "has_cyr"
T_HAS_ACC = "has_acc_lat"
T_HAS_DIA = "has_dia"
T_HAS_UNI = "has_uni"
T_HAS_YEAR = "has_year"

# Default-enabled sets mirror defaults.ini.sample:92-131. Note that the OOV
# features are enabled there but are dead code in the reference (SURVEY.md
# §2.2): `get_textfeats` passes no wordlist, so they always evaluate False
# and — since only true features are serialized — never fire. We keep them in
# the enabled set and replicate the always-False behavior unless
# ``real_oov_features`` is set.
DEFAULT_TEXT_FEATS = frozenset([
    T_BASIC, T_HAS_LANGNAME, T_HAS_GRAMS, T_HAS_PARENTHETICAL,
    T_HAS_CITATION, T_HAS_ASTERISK, T_HAS_UNDERSCORE, T_HAS_BRACKETING,
    T_HAS_QUOTATION, T_HAS_NUMBERING, T_HAS_LEADING_WHITESPACE,
    T_HIGH_OOV_RATE, T_MED_OOV_RATE, T_HIGH_GLS_OOV_RATE,
    T_HAS_JPN, T_HAS_GRK, T_HAS_KOR, T_HAS_CYR, T_HAS_ACC, T_HAS_DIA,
    T_HAS_UNI, T_HAS_YEAR,
])

DEFAULT_FREKI_FEATS = frozenset(F_LIST)


@dataclass(frozen=True)
class PipelineConfig:
    """All knobs of the reference config surface (defaults.ini.sample)."""

    # -- label handling (defaults.ini.sample:62-79) --
    use_bi_labels: bool = False   # flagship nobio model has no B-/I- classes
    use_multi_labels: bool = False
    strip_flags: bool = True
    skip_noisy: bool = True

    # -- feature sets (defaults.ini.sample:81-131) --
    text_feats_enabled: bool = True
    freki_feats_enabled: bool = True
    use_prev_line: bool = True
    use_prev_prev_line: bool = True
    use_next_line: bool = True
    prev_tag: bool = True
    enabled_text_feats: frozenset = DEFAULT_TEXT_FEATS
    enabled_freki_feats: frozenset = DEFAULT_FREKI_FEATS
    word_overlap: bool = False    # not present in defaults.ini → off

    # -- thresholds (defaults.ini.sample:134-142) --
    high_oov: float = 0.5
    med_oov: float = 0.2
    med_overlap: float = 0.25
    high_overlap: float = 0.5
    high_iscore: float = 0.66
    med_iscore: float = 0.5
    low_iscore: float = 0.25

    # -- training (defaults.ini.sample:83, reference README.md:312-314) --
    max_features: int = 10000

    # -- parity quirks (SURVEY.md §2.2/§2.1; all default to reference) --
    real_oov_features: bool = False   # reference OOV feats never fire
    buggy_diacritic_class: bool = True  # en-dash in has_dia char class
    flush_eof_span: bool = False      # reference never flushes span open at EOF

    # -- ingestion --
    html_main_content: bool = False   # density-based boilerplate removal

    def with_(self, **kw) -> "PipelineConfig":
        return replace(self, **kw)

    @classmethod
    def from_ini(cls, *paths: str) -> "PipelineConfig":
        """Config from one or more INI files (reference cascade order:
        later files override earlier, section by section)."""
        cfg, _ = load_ini(*paths)
        return cfg


DEFAULT_CONFIG = PipelineConfig()

# All reference text-feature gate names (env.py T_LIST) in ini order.
T_ALL = [
    T_BASIC, T_HAS_LANGNAME, T_HAS_GRAMS, T_HAS_PARENTHETICAL,
    T_HAS_CITATION, T_HAS_ASTERISK, T_HAS_UNDERSCORE, T_HAS_BRACKETING,
    T_HAS_QUOTATION, T_HAS_NUMBERING, T_HAS_LEADING_WHITESPACE,
    T_HIGH_OOV_RATE, T_MED_OOV_RATE, T_HIGH_GLS_OOV_RATE,
    T_MED_GLS_OOV_RATE, T_HIGH_MET_OOV_RATE,
    T_HAS_JPN, T_HAS_GRK, T_HAS_KOR, T_HAS_CYR, T_HAS_ACC, T_HAS_DIA,
    T_HAS_UNI, T_HAS_YEAR,
]

# Gates the reference declares but never computes (no call site in
# get_textfeats) — enabling them in an ini cannot make them fire, so the
# loader drops them to preserve behavior parity (featurespec.py:19).
_NEVER_COMPUTED_TEXT_FEATS = frozenset([T_MED_GLS_OOV_RATE])

# reference true_val (igtdetect.py:1456-1462) accepts more spellings than
# configparser's default BOOLEAN_STATES
_BOOL_STATES = {
    "1": True, "on": True, "t": True, "true": True, "enabled": True,
    "y": True, "yes": True,
    "0": False, "off": False, "f": False, "false": False,
    "disabled": False, "n": False, "no": False,
}


def _merge_ini(paths: tuple[str, ...]) -> ConfigParser:
    conf = ConfigParser()
    conf.BOOLEAN_STATES = _BOOL_STATES
    for p in paths:
        sub = ConfigParser()
        sub.BOOLEAN_STATES = _BOOL_STATES
        with open(p) as f:
            sub.read_file(f)
        base_dir = os.path.dirname(os.path.abspath(p))
        for sec in sub.sections():
            if not conf.has_section(sec):
                conf.add_section(sec)
            for opt in sub[sec]:
                v = sub.get(sec, opt)  # interpolated within this file
                if sec in ("paths", "files"):
                    # env.py:14-21: path options are relative to their ini
                    v = os.path.abspath(os.path.join(base_dir, v))
                conf.set(sec, opt, v.replace("%", "%%"))
    return conf


def load_ini(*paths: str) -> tuple[PipelineConfig, dict[str, str]]:
    """(PipelineConfig, resolved path options) from the INI cascade.

    Only options present in the files override the defaults; feature-gate
    sections ([freki_features]/[text_features]) replace the whole enabled
    set when present, mirroring ``enabled_feats`` (env.py:239-246): a
    gate absent from the section is disabled.
    """
    conf = _merge_ini(paths)
    kw: dict = {}

    def take_bools(sec: str, opts: list[str]) -> None:
        for opt in opts:
            if conf.has_option(sec, opt):
                kw[opt] = conf.getboolean(sec, opt)

    take_bools("labels", ["use_bi_labels", "use_multi_labels", "strip_flags"])
    take_bools("featuresets", [
        "text_feats_enabled", "freki_feats_enabled",
        "use_prev_line", "use_prev_prev_line", "use_next_line",
    ])
    if conf.has_option("featuresets", "max_features"):
        kw["max_features"] = conf.getint("featuresets", "max_features")
    if conf.has_section("freki_features"):
        kw["enabled_freki_feats"] = frozenset(
            f for f in F_LIST
            if conf.has_option("freki_features", f)
            and conf.getboolean("freki_features", f)
        )
    if conf.has_section("text_features"):
        if conf.has_option("text_features", T_PREV_TAG):
            kw["prev_tag"] = conf.getboolean("text_features", T_PREV_TAG)
        # word_overlap is a standalone dataclass gate (not in T_ALL);
        # the reference forwards every ini option as kwargs, so an ini
        # setting word_overlap=1 must reach cfg.word_overlap
        if conf.has_option("text_features", "word_overlap"):
            kw["word_overlap"] = conf.getboolean(
                "text_features", "word_overlap"
            )
        kw["enabled_text_feats"] = frozenset(
            f for f in T_ALL
            if conf.has_option("text_features", f)
            and conf.getboolean("text_features", f)
        ) - _NEVER_COMPUTED_TEXT_FEATS
    for opt in ("high_oov", "med_oov", "med_overlap", "high_overlap",
                "high_iscore", "med_iscore", "low_iscore"):
        if conf.has_option("thresholds", opt):
            kw[opt] = conf.getfloat("thresholds", opt)

    resolved_paths: dict[str, str] = {}
    for sec in ("paths", "files"):
        if conf.has_section(sec):
            resolved_paths.update(dict(conf[sec]))
    return DEFAULT_CONFIG.with_(**kw), resolved_paths

# Paths into the read-only reference checkout (data files are inputs, the
# code is never imported).
REFERENCE_DIR = "/root/reference"
REF_MODEL_PATH = f"{REFERENCE_DIR}/data/igt-classifier-nobio.model"
REF_SAMPLE_MODEL_PATH = f"{REFERENCE_DIR}/sample/sample_classifier.model"
REF_EN_WORDLIST = f"{REFERENCE_DIR}/data/wordlists/english_words.txt"
REF_GLS_WORDLIST = f"{REFERENCE_DIR}/data/wordlists/gloss.txt"
REF_MET_WORDLIST = f"{REFERENCE_DIR}/data/wordlists/meta.txt"
REF_GRAMS = f"{REFERENCE_DIR}/data/wordlists/grams.txt"
REF_GRAMS_CASED = f"{REFERENCE_DIR}/data/wordlists/grams_case_sensitive.txt"
REF_LANGS = f"{REFERENCE_DIR}/data/langs.txt"
REF_SAMPLE_TRAIN = f"{REFERENCE_DIR}/sample/sample_train.txt"
REF_SAMPLE_TEST = f"{REFERENCE_DIR}/sample/sample_test.txt"
