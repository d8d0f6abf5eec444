"""Driver-contract tests: entry() smoke + queries()/oracle_sql() parity
against DuckDB at sf0.001 (the full sweep runs via
tools/check_correctness.py at sf0.01 — this locks the contract shape into
the fast suite)."""

import duckdb
import pytest

from conftest import REF_LEXICON_FILES, needs_reference

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# fast queries with full SQL mirrors
CHECKED = [
    "budget_select", "bigram_lm_score", "incremental_dedup_bloom",
    "nb_domain_score",
    "igt_segment_lines", "span_islands_events", "deterministic_mode",
    "confusion_pivot", "topk_parts", "label_normalize", "tpch_q1",
    "dedup_exact", "fingerprints", "token_stats", "quality_scores",
    "lang_id", "embedding_stats", "ann_cosine_topk", "media_meta",
    "simhash", "ann_lsh", "media_embeddings", "subword_stats",
    "media_frames", "embedding_neardup", "winnowing", "media_resize",
    "ann_ivf", "substring_dup_spans", "contamination_screen",
    "substring_dedup_clean", "mixture_resample", "curation_funnel",
    "unigram_familiarity", "mixture_resample_recipe", "repetition_ratios",
    "substring_dup_spans_i64", "semdedup", "url_dedup",
    "hll_cardinality", "minhash_bands", "minhash_lsh_pairs",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def _norm(v):
    from datetime import date, datetime
    from decimal import Decimal

    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)


@needs_reference(*REF_LEXICON_FILES)
def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "line_no", "pred"}
    assert all(r["pred"] in ("O", "L", "G", "T", "M") for r in rows[:50])


def test_registry_consistency():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    # every oracle-less query is a documented rows-only check
    rows_only = set(qs) - set(osql)
    assert rows_only == {"igt_classify_lines", "igt_detect_spans"}


def test_oracle_result_types_are_whitelisted(con):
    """Round-3 regression gate: an oracle whose result schema contains
    HUGEINT/DECIMAL (e.g. an un-cast integer SUM) hashes differently on
    the driver's Arrow fetch path than on fetchall(), so the local
    mirror passes while the driver fails. Audit every registered oracle's
    *result types* — no rows fetched — against the verified whitelist."""
    import __spark_entry__ as e
    from igtdetect_spark.oracle_types import audit_relation

    offenders = {}
    for name, sql in e.oracle_sql().items():
        bad = audit_relation(con.sql(sql))
        if bad:
            offenders[name] = bad
    assert not offenders, f"oracles emitting unstable types: {offenders}"


@pytest.mark.parametrize("name", CHECKED)
def test_query_matches_duckdb(spark, con, name):
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF_DIR)
    got = _canon(df.columns, [tuple(r) for r in df.collect()])
    rel = con.sql(e.oracle_sql()[name])
    want = _canon([d[0] for d in rel.description], rel.fetchall())
    assert got == want, f"{name}: {len(got)} vs {len(want)} rows"


# ---------------------------------------------------------------------------
# Hostile-documents parity: NULL / empty / whitespace-only / vertical-tab /
# duplicate texts must hash identically on Spark and DuckDB. The driver
# tables contain none of these, so this fixture is the only guard against
# latent cross-engine NULL/whitespace divergence in the oracles.
# ---------------------------------------------------------------------------

_LOREM = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while a careful reader counts every distinct token twice"
)

HOSTILE_DOCS = [
    (0, _LOREM, "en", "web", len(_LOREM)),
    (1, None, "en", "web", 0),
    (2, None, "en", "web", 0),          # two NULL texts → an LSH candidate pair
    (3, "", "en", "web", 0),
    (4, "   \t  ", "en", "web", 6),
    (5, "vertical\x0btab token counting test", "en", "web", 31),
    (6, _LOREM, "en", "web", len(_LOREM)),  # exact duplicate of doc 0
    (7, "日本語テキスト и русский текст (1999)", "ja", "web", 24),
]

HOSTILE_CHECKED = [
    "dedup_exact", "fingerprints", "minhash_bands", "minhash_lsh_pairs",
    "ngram_jaccard", "simhash", "token_stats", "quality_scores", "lang_id",
    "subword_stats", "winnowing", "media_meta", "media_embeddings",
    "media_frames", "media_resize", "substring_dup_spans",
    "contamination_screen", "substring_dedup_clean", "mixture_resample",
    "curation_funnel", "unigram_familiarity", "mixture_resample_recipe",
    "repetition_ratios", "substring_dup_spans_i64",
    "c4_clean", "line_dedup", "pii_redact", "dsir_weights",
    "sequence_pack", "temperature_mixture", "cleaning_funnel",
    "incremental_dedup", "budget_select", "bigram_lm_score",
    "incremental_dedup_bloom", "nb_domain_score", "igt_segment_lines",
    "crawl_depth", "bowtie_classes", "landmark_closeness",
]


@pytest.fixture(scope="module")
def hostile_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_sf")
    spark.createDataFrame(
        HOSTILE_DOCS,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def hostile_con(hostile_dir):
    c = duckdb.connect()
    c.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{hostile_dir}/documents.parquet/*.parquet')"
    )
    return c


@pytest.mark.parametrize("name", HOSTILE_CHECKED)
def test_hostile_docs_match_duckdb(spark, hostile_dir, hostile_con, name):
    import __spark_entry__ as e

    df = e.queries()[name](spark, hostile_dir)
    got = _canon(df.columns, [tuple(r) for r in df.collect()])
    rel = hostile_con.sql(e.oracle_sql()[name])
    want = _canon([d[0] for d in rel.description], rel.fetchall())
    assert got == want, f"{name}: {len(got)} vs {len(want)} rows"


def test_null_text_docs_become_lsh_candidates_on_both_engines(
    spark, hostile_dir, hostile_con
):
    """Regression (round-3 advice): the Spark kernel emits md5('') bands
    for NULL text, so two NULL-text docs pair up; the oracle must agree."""
    import __spark_entry__ as e

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in e.queries()["minhash_lsh_pairs"](spark, hostile_dir).collect()
    }
    assert (1, 2) in pairs and (0, 6) in pairs
    duck = {
        tuple(r)
        for r in hostile_con.sql(
            e.oracle_sql()["minhash_lsh_pairs"]
        ).fetchall()
    }
    assert pairs == duck
