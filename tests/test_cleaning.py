"""Corpus-cleaning operator tests: C4 rule cleaning, corpus-level
line dedup, PII redaction, DSIR importance weights.

The graded queries run these over deterministic pseudo-lines (the
driver corpus has no newlines/punctuation); these tests exercise the
REALISTIC branches the driver data cannot reach — lorem-ipsum / brace
page drops, genuine multi-line boilerplate, PII edge cases, and the
importance-weight direction — plus the pseudo-line derivation itself.
"""

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(rows)],
        "doc_id long, text string",
    )


# ---------------------------------------------------------------------------
# c4_clean
# ---------------------------------------------------------------------------

GOOD_PAGE = (
    "This is a perfectly ordinary first sentence.\n"
    "Here is another sentence with enough words in it.\n"
    "And a third line that also terminates properly!\n"
    "short.\n"
    "This line has many words but no terminal punctuation"
)


def test_c4_keeps_only_punctuated_long_lines(spark):
    from igtdetect_spark.operators.cleaning import c4_clean

    out = c4_clean(_docs(spark, [GOOD_PAGE])).collect()[0]
    assert out.n_lines == 5
    assert out.n_kept == 3  # 'short.' fails words, last fails punct
    assert out.page_kept == 1
    assert out.clean_text.count("\n") == 2
    assert "short." not in out.clean_text


@pytest.mark.parametrize(
    "poison, flag",
    [("\nSome Lorem Ipsum filler sentence here today.", "has_lorem"),
     ("\nA line with code {braces} in it today.", "has_brace")],
)
def test_c4_page_gates_drop_whole_page(spark, poison, flag):
    from igtdetect_spark.operators.cleaning import c4_clean

    out = c4_clean(_docs(spark, [GOOD_PAGE + poison])).collect()[0]
    assert out[flag] == 1
    assert out.page_kept == 0
    assert out.clean_text == ""


def test_c4_min_kept_lines_gate(spark):
    from igtdetect_spark.operators.cleaning import c4_clean

    two_liner = (
        "Only two proper sentences live on this page.\n"
        "Here is the second and final proper sentence."
    )
    out = c4_clean(_docs(spark, [two_liner])).collect()[0]
    assert out.n_kept == 2
    assert out.page_kept == 0 and out.clean_text == ""


def test_c4_null_text_is_empty_page(spark):
    from igtdetect_spark.operators.cleaning import c4_clean

    out = c4_clean(
        spark.createDataFrame([Row(doc_id=0, text=None)],
                              "doc_id long, text string")
    ).collect()[0]
    assert out.n_kept == 0 and out.page_kept == 0


# ---------------------------------------------------------------------------
# pseudo_lines / paged_text
# ---------------------------------------------------------------------------

def test_pseudo_lines_chunking_and_order(spark):
    from igtdetect_spark.operators.cleaning import pseudo_lines

    text = " ".join(f"w{i}" for i in range(19))  # 19 tokens → 3 chunks
    rows = sorted(
        pseudo_lines(_docs(spark, [text]), tokens_per_line=8).collect(),
        key=lambda r: r.pos,
    )
    assert [r.pos for r in rows] == [0, 1, 2]
    assert rows[0].line.split(" ") == [f"w{i}" for i in range(8)]
    assert rows[2].line.split(" ") == ["w16", "w17", "w18"]


def test_pseudo_lines_empty_doc_emits_one_empty_line(spark):
    from igtdetect_spark.operators.cleaning import pseudo_lines

    rows = pseudo_lines(_docs(spark, ["", "   "])).collect()
    assert sorted((r.doc_id, r.pos, r.line) for r in rows) == [
        (0, 0, ""), (1, 0, ""),
    ]


def test_paged_text_punctuates_every_third_line(spark):
    from igtdetect_spark.operators.cleaning import paged_text

    text = " ".join(f"w{i}" for i in range(24))  # doc_id=0 → 3 chunks
    out = paged_text(_docs(spark, [text])).collect()[0]
    lines = out.text.split("\n")
    assert len(lines) == 3
    # (doc_id + pos) % 3 == 0 → pos 0 only
    assert lines[0].endswith(".") and not lines[1].endswith(".")
    assert not lines[2].endswith(".")


# ---------------------------------------------------------------------------
# corpus_line_dedup
# ---------------------------------------------------------------------------

def _lines_df(spark, docs):
    rows = [
        Row(doc_id=d, pos=p, line=line)
        for d, lines in enumerate(docs)
        for p, line in enumerate(lines)
    ]
    return spark.createDataFrame(rows, "doc_id long, pos long, line string")


def test_line_dedup_removes_boilerplate_everywhere(spark):
    from igtdetect_spark.operators.cleaning import corpus_line_dedup

    banner = "Accept all cookies to continue"
    docs = [
        [banner, "unique body one", "All rights reserved"],
        [banner, "unique body two", "All rights reserved"],
        ["unique body three"],
    ]
    out = {
        r.doc_id: r
        for r in corpus_line_dedup(
            _lines_df(spark, docs), min_docs=2, corpus_bound_bytes=1
        ).collect()
    }
    assert out[0].clean_text == "unique body one"
    assert out[0].n_removed == 2 and out[0].n_lines == 3
    assert out[1].clean_text == "unique body two"
    assert out[2].clean_text == "unique body three"
    assert out[2].n_removed == 0


def test_line_dedup_preserves_original_order(spark):
    from igtdetect_spark.operators.cleaning import corpus_line_dedup

    dup = "dup line"
    docs = [["z last", dup, "a first"], [dup]]
    out = {
        r.doc_id: r.clean_text
        for r in corpus_line_dedup(
            _lines_df(spark, docs), min_docs=2, corpus_bound_bytes=1
        ).collect()
    }
    assert out[0] == "z last\na first"  # pos order, not lexicographic
    assert out[1] == ""


def test_line_dedup_empty_lines_never_count_as_duplicates(spark):
    from igtdetect_spark.operators.cleaning import corpus_line_dedup

    docs = [["", "body a"], ["", "body b"]]
    out = {
        r.doc_id: r
        for r in corpus_line_dedup(
            _lines_df(spark, docs), min_docs=2, corpus_bound_bytes=1
        ).collect()
    }
    assert out[0].n_removed == 0 and out[0].clean_text == "\nbody a"


def test_line_dedup_same_doc_repeat_is_not_cross_doc(spark):
    """min_docs counts DISTINCT documents — a line repeated inside one
    doc is repetition (Gopher's domain), not corpus boilerplate."""
    from igtdetect_spark.operators.cleaning import corpus_line_dedup

    docs = [["echo", "echo", "body"], ["other"]]
    out = corpus_line_dedup(
        _lines_df(spark, docs), min_docs=2, corpus_bound_bytes=1
    ).filter(F.col("doc_id") == 0).collect()[0]
    assert out.n_removed == 0


# ---------------------------------------------------------------------------
# pii_redact
# ---------------------------------------------------------------------------

def test_pii_redact_all_kinds(spark):
    from igtdetect_spark.operators.cleaning import pii_redact

    text = (
        "Mail alice.smith+tag@sub.example.org or bob@x.co, "
        "server 192.168.0.1, call +1-555-0199 now"
    )
    out = pii_redact(_docs(spark, [text])).collect()[0]
    assert out.n_emails == 2 and out.n_ips == 1 and out.n_phones == 1
    assert "<EMAIL>" in out.redacted_text
    assert "192.168.0.1" not in out.redacted_text
    assert "+1-555-0199" not in out.redacted_text


def test_pii_redact_ip_inside_email_not_double_counted(spark):
    """The IP count is taken AFTER email redaction: a dotted-quad-ish
    domain inside an email never also counts as an IP."""
    from igtdetect_spark.operators.cleaning import pii_redact

    out = pii_redact(
        _docs(spark, ["u@10.0.0.1abc.com and plain 10.0.0.2 here"])
    ).collect()[0]
    assert out.n_emails == 1
    assert out.n_ips == 1  # only the standalone address


def test_pii_redact_clean_text_untouched(spark):
    from igtdetect_spark.operators.cleaning import pii_redact

    out = pii_redact(_docs(spark, ["no pii here at all"])).collect()[0]
    assert out.redacted_text == "no pii here at all"
    assert (out.n_emails, out.n_phones, out.n_ips) == (0, 0, 0)


# ---------------------------------------------------------------------------
# dsir_weights
# ---------------------------------------------------------------------------

def test_dsir_weights_favor_target_like_documents(spark):
    """Documents sharing the target slice's n-gram distribution must
    score higher than out-of-distribution documents."""
    from igtdetect_spark.operators.sampling import dsir_weights

    target_phrase = "the quick brown fox jumps over the lazy dog"
    other_phrase = "zzz qqq vvv kkk xxx www yyy uuu ppp"
    rows = [
        Row(doc_id=0, lang="en", text=target_phrase),
        Row(doc_id=1, lang="en", text=target_phrase),
        Row(doc_id=2, lang="de", text=target_phrase),  # raw, target-like
        Row(doc_id=3, lang="de", text=other_phrase),   # raw, OOD
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.doc_id: r.weight_e6
        for r in dsir_weights(df, F.col("lang") == "en").collect()
    }
    assert out[2] > out[3]


def test_dsir_weights_are_integer_micro_units(spark):
    from igtdetect_spark.operators.sampling import dsir_weights

    df = spark.createDataFrame(
        [Row(doc_id=0, lang="en", text="a b c"),
         Row(doc_id=1, lang="de", text="a b d")]
    )
    rows = dsir_weights(df, F.col("lang") == "en").collect()
    assert all(isinstance(r.weight_e6, int) for r in rows)
    # unigrams + bigrams with multiplicity: 3 + 2 grams each
    assert all(r.n_grams == 5 for r in rows)


# ---------------------------------------------------------------------------
# sequence_pack
# ---------------------------------------------------------------------------

def _pack_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )


def test_sequence_pack_concat_then_chunk_semantics(spark):
    from igtdetect_spark.operators.sampling import sequence_pack

    rows = [
        (0, "en", "a", " ".join(["w"] * 5)),   # tokens 0-4 of pack 0
        (1, "en", "a", " ".join(["x"] * 4)),   # tokens 5-8: straddles
        (2, "en", "a", ""),                    # empty: spans nothing
        (3, "en", "a", " ".join(["y"] * 10)),  # tokens 9-18
        (4, "de", "b", "z z z"),               # separate stratum
    ]
    out = {
        r.doc_id: r
        for r in sequence_pack(_pack_df(spark, rows),
                               chunk_tokens=8).collect()
    }
    assert (out[0].start_pack, out[0].start_offset, out[0].n_chunks) \
        == (0, 0, 1)
    assert (out[1].start_pack, out[1].start_offset, out[1].n_chunks) \
        == (0, 5, 2)   # crosses the 8-token boundary
    assert (out[2].n_tokens, out[2].n_chunks) == (0, 0)
    assert (out[3].start_pack, out[3].start_offset, out[3].n_chunks) \
        == (1, 1, 2)
    # the other stratum packs from zero — strata are independent streams
    assert (out[4].start_pack, out[4].start_offset) == (0, 0)


def test_sequence_pack_exact_boundary_doc_spans_one_chunk(spark):
    from igtdetect_spark.operators.sampling import sequence_pack

    rows = [(0, "en", "a", " ".join(["w"] * 8)),
            (1, "en", "a", " ".join(["x"] * 8))]
    out = {
        r.doc_id: r
        for r in sequence_pack(_pack_df(spark, rows),
                               chunk_tokens=8).collect()
    }
    # exactly-full docs never straddle: doc 1 starts pack 1 offset 0
    assert (out[0].start_pack, out[0].n_chunks) == (0, 1)
    assert (out[1].start_pack, out[1].start_offset, out[1].n_chunks) \
        == (1, 0, 1)


# ---------------------------------------------------------------------------
# temperature_mixture
# ---------------------------------------------------------------------------

def test_temperature_mixture_flattens_toward_low_resource(spark):
    """alpha < 1 must raise the low-resource group's share and lower
    the high-resource group's, with ppm totals conserved (±rounding)."""
    from igtdetect_spark.operators.sampling import temperature_mixture

    rows = [Row(doc_id=i, lang=("en" if i < 90 else "yo")) for i in range(100)]
    out = {
        r.lang: r
        for r in temperature_mixture(
            spark.createDataFrame(rows), alpha=0.3
        ).collect()
    }
    assert out["en"].share_ppm == 900_000 and out["yo"].share_ppm == 100_000
    assert out["yo"].temp_share_ppm > out["yo"].share_ppm
    assert out["en"].temp_share_ppm < out["en"].share_ppm
    total = out["en"].temp_share_ppm + out["yo"].temp_share_ppm
    assert 999_998 <= total <= 1_000_000


def test_temperature_mixture_alpha_one_is_identity(spark):
    from igtdetect_spark.operators.sampling import temperature_mixture

    rows = [Row(doc_id=i, lang=("a" if i % 4 else "b")) for i in range(80)]
    out = temperature_mixture(
        spark.createDataFrame(rows), alpha=1.0
    ).collect()
    for r in out:
        assert abs(r.temp_share_ppm - r.share_ppm) <= 1  # e9-floor rounding


# ---------------------------------------------------------------------------
# incremental_dedup
# ---------------------------------------------------------------------------

def test_incremental_dedup_keep_first_and_seen_flags(spark):
    from igtdetect_spark.operators.dedup import (
        fingerprint_docs, incremental_dedup,
    )

    old = _docs(spark, ["historical page one", "historical page two"])
    seen = fingerprint_docs(old)
    new = spark.createDataFrame(
        [Row(doc_id=10, text="historical page one"),   # already seen
         Row(doc_id=11, text="fresh content a"),
         Row(doc_id=12, text="fresh content a"),       # in-increment dup
         Row(doc_id=13, text="fresh content b")],
    )
    out = {
        r.doc_id: r
        for r in incremental_dedup(new, seen, corpus_bound_bytes=1).collect()
    }
    assert out[10].seen_in_corpus == 1 and out[10].is_new == 0
    assert out[11].is_new == 1 and out[11].first_in_increment == 1
    assert out[12].is_new == 0 and out[12].first_in_increment == 0
    assert out[12].seen_in_corpus == 0     # dup of the increment, not corpus
    assert out[13].is_new == 1


def test_incremental_dedup_normalization_matches_exact_dedup(spark):
    """'Hello,  World!' and 'hello world' share a fingerprint — the
    increment uses the SAME normalization as the batch exact dedup."""
    from igtdetect_spark.operators.dedup import (
        fingerprint_docs, incremental_dedup,
    )

    seen = fingerprint_docs(_docs(spark, ["Hello,  World!"]))
    out = incremental_dedup(
        _docs(spark, ["hello world"]), seen, corpus_bound_bytes=1
    ).collect()[0]
    assert out.seen_in_corpus == 1 and out.is_new == 0


# ---------------------------------------------------------------------------
# incremental_dedup_bloom
# ---------------------------------------------------------------------------

def test_bloom_path_is_bit_identical_to_plain_incremental_dedup(spark):
    """The Bloom pre-filter is a physical-plan optimization only: the
    output must equal the plain path exactly — including under a
    deliberately tiny bitset (m=64, k=2) where false positives are
    near-certain, since FPs may only cost extra join rows."""
    from pyspark.sql import functions as F

    from igtdetect_spark.operators.dedup import (
        fingerprint_docs,
        incremental_dedup,
        incremental_dedup_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen = fingerprint_docs(docs.filter(F.col("doc_id") % 3 == 0))
    want = {tuple(r) for r in incremental_dedup(docs, seen).collect()}
    got = {
        tuple(r) for r in incremental_dedup_bloom(docs, seen).collect()
    }
    got_fp = {
        tuple(r)
        for r in incremental_dedup_bloom(
            docs, seen, m_bits=64, k=2
        ).collect()
    }
    assert got == want
    assert got_fp == want


def test_bloom_bitset_has_no_false_negatives(spark):
    """Every fingerprint inserted into the bitset must probe positive
    (the Bloom guarantee the exactness argument rests on), and a
    disjoint fingerprint set probes almost entirely negative at the
    default sizing — the pre-filter genuinely prunes the join."""
    import numpy as np
    from pyspark.sql import functions as F

    from igtdetect_spark.operators.dedup import (
        bloom_bitset,
        fingerprint_docs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen_docs = docs.filter(F.col("doc_id") % 3 == 0)
    new_docs = docs.filter(F.col("doc_id") % 3 != 0)
    m, k = 1 << 20, 5
    bits = bloom_bitset(fingerprint_docs(seen_docs), m_bits=m, k=k)

    def probes(fps_df):
        pos = fps_df.select(*[
            F.pmod(F.xxhash64(F.col("fingerprint"), F.lit(i)), F.lit(m))
            .alias(f"p{i}")
            for i in range(k)
        ]).collect()
        out = []
        for r in pos:
            out.append(all(
                bits[p >> 3] >> (p & 7) & 1 for p in r
            ))
        return out

    assert all(probes(fingerprint_docs(seen_docs)))
    # distinct new texts: at 2^20 bits / ~170 keys the FP rate is ~0 —
    # allow a couple of collisions but require real pruning
    neg = probes(
        fingerprint_docs(new_docs).join(
            fingerprint_docs(seen_docs).select("fingerprint"),
            "fingerprint", "left_anti",
        )
    )
    assert sum(neg) <= 2, f"{sum(neg)}/{len(neg)} false positives"


class TestBlocklistFilter:
    """C4-style bad-words gate (operators/text_analysis.blocklist_filter)."""

    def test_planted_fixture(self, spark):
        from igtdetect_spark.operators.text_analysis import (
            blocklist_filter,
        )

        docs = spark.createDataFrame(
            [
                (1, "clean text with the usual words"),
                (2, "a dup appears here and DUP again"),  # case-folded
                (3, None),
                (4, ""),
                (5, "spam lorem spam"),
                (6, "dupx is not dup-as-a-token? dup"),
            ],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in blocklist_filter(docs).collect()
        }
        assert out[1]["kept"] and out[1]["n_bad"] == 0
        assert out[1]["bad_words"] == []
        assert not out[2]["kept"] and out[2]["n_bad"] == 2
        assert out[2]["bad_words"] == ["dup"]
        assert out[3]["kept"] and out[4]["kept"]  # null/empty pass
        assert out[5]["n_bad"] == 3
        assert out[5]["bad_words"] == ["lorem", "spam"]
        # whitespace-split tokens: "dupx" and "dup-as-a-token?" are NOT
        # blocklist hits; only the bare final token is
        assert out[6]["n_bad"] == 1

    def test_plan_zero_shuffle_no_python(self, spark, no_spread):
        from igtdetect_spark.operators.text_analysis import (
            blocklist_filter,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            blocklist_filter(docs)._jdf.queryExecution().executedPlan()
        )
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        # the token array is a named column: tokenizer appears ONCE
        assert plan.count("regexp_replace") <= 2, plan


class TestSpanCorruption:
    """T5 denoising layout invariants."""

    def test_reconstruction_and_rates(self, spark):
        import re

        from igtdetect_spark.operators.cleaning import span_corruption

        docs = spark.createDataFrame(
            [(i, " ".join(f"w{i}t{j}" for j in range(40)))
             for i in range(20)],
            "doc_id long, text string",
        )
        rows = span_corruption(docs).collect()
        assert len(rows) == 20
        total_masked = sum(r["masked_tokens"] for r in rows)
        assert 0 < total_masked < 800  # some masking, never all

        for r in rows:
            # targets carry one sentinel per span, in order
            sentinels = re.findall(r"<extra_id_(\d+)>", r["targets"])
            assert [int(s) for s in sentinels] == list(
                range(r["n_spans"])
            )
            # RECONSTRUCTION: substituting each sentinel in the input
            # with its target span rebuilds the original token stream
            parts = re.split(r"<extra_id_\d+> ?", r["targets"])[1:]
            rebuilt = r["inputs"]
            for k, content in enumerate(parts):
                rebuilt = rebuilt.replace(
                    f"<extra_id_{k}>", content.strip(), 1
                )
            original = " ".join(
                f"w{r['doc_id']}t{j}" for j in range(40)
            )
            assert rebuilt == original, r["doc_id"]

    def test_unmasked_doc_passes_through(self, spark):
        from igtdetect_spark.operators.cleaning import span_corruption

        # single-token docs: token block 0 masks only when the doc:0
        # hash nibble < 3 — find one that doesn't and pin pass-through
        docs = spark.createDataFrame(
            [(i, "solo") for i in range(8)],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in span_corruption(docs).collect()}
        passthrough = [r for r in rows.values() if r["n_spans"] == 0]
        assert passthrough, "expected at least one unmasked doc"
        for r in passthrough:
            assert r["inputs"] == "solo" and r["targets"] == ""
            assert r["masked_tokens"] == 0
