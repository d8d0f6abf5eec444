"""INI config on-ramp: the reference's layered defaults.ini cascade
(env.py:22-43, igtdetect.py:1696-1714) loads into PipelineConfig, and an
ini-loaded config drives the full Spark stack (fused vs oracle parity)."""

import textwrap

import pytest

from igtdetect_spark.config import (
    DEFAULT_CONFIG,
    DEFAULT_FREKI_FEATS,
    DEFAULT_TEXT_FEATS,
    REF_LANGS,
    PipelineConfig,
    load_ini,
)

from conftest import REF_LEXICON_FILES, needs_reference

SAMPLE_INI = "/root/reference/defaults.ini.sample"


@needs_reference(SAMPLE_INI)
def test_defaults_sample_maps_onto_config():
    cfg, paths = load_ini(SAMPLE_INI)
    # gate sets in the sample are exactly the engine defaults (med_gls_oov
    # is enabled there but never computed by the reference → dropped)
    assert cfg.enabled_text_feats == DEFAULT_TEXT_FEATS
    assert cfg.enabled_freki_feats == DEFAULT_FREKI_FEATS
    assert cfg.prev_tag is True
    # sample's explicit settings override the engine defaults
    assert cfg.use_bi_labels is True      # use_bi_labels = 1
    assert cfg.use_multi_labels is False
    assert cfg.strip_flags is True
    assert cfg.max_features == 10000
    # thresholds
    assert cfg.high_oov == 0.5 and cfg.med_oov == 0.2
    assert cfg.med_overlap == 0.25 and cfg.high_overlap == 0.5
    assert (cfg.high_iscore, cfg.med_iscore, cfg.low_iscore) == (
        0.66, 0.5, 0.25,
    )
    # unknown-to-ini knobs keep their dataclass defaults
    assert cfg.word_overlap is False
    # [paths]/[files] resolve relative to the ini's own directory
    assert paths["en_wordlist"] == (
        "/root/reference/data/wordlists/english_words.txt"
    )
    assert paths["feat_dir"] == "/root/reference/output/feats"


@needs_reference(SAMPLE_INI)
def test_cascade_override(tmp_path):
    override = tmp_path / "override.ini"
    override.write_text(textwrap.dedent("""\
        [labels]
        use_bi_labels = off

        [text_features]
        words = 1
        has_langname = yes
        has_cyr = 0

        [thresholds]
        med_overlap = 0.4

        [paths]
        feat_dir = ./feats
    """))
    cfg, paths = load_ini(SAMPLE_INI, str(override))
    # later file overrides section-by-section
    assert cfg.use_bi_labels is False
    assert cfg.med_overlap == 0.4
    # the cascade overlays option-by-option (igtdetect.py:1700-1707 does
    # conf.set per option, never clearing a section): the sample's gates
    # survive, has_cyr flips off
    assert cfg.enabled_text_feats == DEFAULT_TEXT_FEATS - {"has_cyr"}
    # a SINGLE ini (no cascade) has enabled_feats semantics: absent=disabled
    solo, _ = load_ini(str(override))
    assert solo.enabled_text_feats == frozenset(["words", "has_langname"])
    # other thresholds still come from the sample
    assert cfg.high_overlap == 0.5
    # path options resolve against EACH file's own directory
    assert paths["feat_dir"] == str(tmp_path / "feats")
    assert paths["en_wordlist"] == (
        "/root/reference/data/wordlists/english_words.txt"
    )


@needs_reference(SAMPLE_INI)
def test_word_overlap_gate_reaches_config(tmp_path):
    """The reference forwards every ini option as kwargs, so
    word_overlap=1 in [text_features] must flip cfg.word_overlap (it is
    a standalone dataclass gate, not part of the enabled-feats set)."""
    ini = tmp_path / "wo.ini"
    ini.write_text("[text_features]\nwords = 1\nword_overlap = 1\n")
    cfg = PipelineConfig.from_ini(SAMPLE_INI, str(ini))
    assert cfg.word_overlap is True
    assert "word_overlap" not in cfg.enabled_text_feats


@needs_reference(REF_LANGS)
def test_ini_files_section_loads_lexicons(tmp_path):
    """[files] gram-list paths from the ini drive the lexicon load
    (reference read_wl over config paths); a dangling path loads as an
    empty set like the reference's read_wl existence guard."""
    gl = tmp_path / "tiny_grams.txt"
    gl.write_text("alpha x\nbeta\n\n gamma \n")
    ini = tmp_path / "lex.ini"
    ini.write_text(
        "[files]\n"
        f"gram_list = {gl.name}\n"
        "gram_list_cased = ./does_not_exist.txt\n"
    )
    from igtdetect_spark.config import load_ini
    from igtdetect_spark.lexicons import load_lexicons_from_ini_paths

    _, paths = load_ini(str(ini))
    lex = load_lexicons_from_ini_paths(paths)
    assert lex.gram_list == ["alpha x", "beta", "gamma"]
    assert list(lex.gram_list_cased) == []          # dangling → empty
    assert lex.langnames                             # default ref langs


def test_from_ini_classmethod(tmp_path):
    ini = tmp_path / "one.ini"
    ini.write_text("[featuresets]\nmax_features = 123\n")
    cfg = PipelineConfig.from_ini(str(ini))
    assert cfg.max_features == 123
    assert cfg == DEFAULT_CONFIG.with_(max_features=123)


@needs_reference(SAMPLE_INI, *REF_LEXICON_FILES)
def test_ini_config_flips_gates_end_to_end(spark, tmp_path):
    """An override ini drives the full Spark pipeline: disabling feature
    gates via INI produces the same spans as the oracle under the same
    config (mirrors the reduced_feats variant of test_config_variants)."""
    from igtdetect_spark.flagship import get_lexicons, get_synthetic_model
    from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus
    from igtdetect_spark.oracle.pipeline import (
        detect_spans,
        detected_text,
        extract_doc_features,
        score_doc,
    )
    from igtdetect_spark.plans.pipeline import (
        DetectContext,
        detect_spans_fused,
        detected_text_df,
    )
    from igtdetect_spark.segmentation import extract_page_text
    from igtdetect_spark.sources.pages import synthetic_pages

    enabled = sorted(DEFAULT_TEXT_FEATS - {"has_dia", "has_uni"})
    override = tmp_path / "gates.ini"
    override.write_text(
        "[featuresets]\nfreki_feats_enabled = 0\n\n"
        "[text_features]\nhas_dia = 0\nhas_uni = 0\n"
    )
    cfg = PipelineConfig.from_ini(SAMPLE_INI, str(override))
    assert cfg.enabled_text_feats == frozenset(enabled)
    assert cfg.freki_feats_enabled is False
    # the flagship model is batch-mode; the sample ini's prev_tag=1 is
    # irrelevant to it but keep the engine default for the parity run
    cfg = cfg.with_(prev_tag=DEFAULT_CONFIG.prev_tag,
                    use_bi_labels=DEFAULT_CONFIG.use_bi_labels)

    model, lex = get_synthetic_model(), get_lexicons()
    want = {}
    for d in make_corpus(8):
        doc = doc_from_text(d.url, extract_page_text(d.html, d.text))
        inst = extract_doc_features(doc, lex, cfg)
        labels, _ = score_doc(inst, model, cfg)
        txt = detected_text(detect_spans(doc, labels, cfg))
        if txt:
            want[d.url] = txt

    ctx = DetectContext(spark, model, lex, cfg)
    got = {
        r["url"]: r["detected_text"]
        for r in detected_text_df(
            detect_spans_fused(synthetic_pages(spark, 8), ctx)
        ).collect()
    }
    assert got == want
