import os

import pytest

from igtdetect_spark.config import REF_GRAMS, REF_GRAMS_CASED, REF_LANGS

# every file load_reference_lexicons() (so flagship.get_lexicons()) reads
REF_LEXICON_FILES = (REF_LANGS, REF_GRAMS, REF_GRAMS_CASED)


def needs_reference(*paths):
    """Mark a test that reads reference data files: it is skipped, with
    the first missing path as the reason, unless every one exists, and
    runs unchanged wherever they do."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"reference file missing: {missing[0]}" if missing else "",
    )


def lines_table_spans(lines, ctx):
    """The CLI's lines-table detection: score ``lines`` per document, join
    the predictions back on (url, line_no) and assemble detected spans."""
    from igtdetect_spark.operators.score import score_lines
    from igtdetect_spark.operators.spans import detected_span_text

    scored = score_lines(lines, ctx.model_bc, ctx.lex_bc, ctx.cfg)
    joined = lines.select("url", "line_no", "block_id", "text").join(
        scored.select("url", "line_no", "pred"), ["url", "line_no"]
    )
    return detected_span_text(joined, ctx.cfg)


@pytest.fixture(scope="session")
def spark():
    from igtdetect_spark.session import build_session

    s = build_session(
        app_name="igtdetect_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture
def no_spread(spark):
    """Pin the cluster-scale plan shape: disable the small-scan hash
    spread (``operators/scale.py:spread_small_scan``), which fires only
    on tiny single-row-group inputs and is a no-op past 64 MB."""
    spark.conf.set("igtdetect.spreadSmallScanBytes", "0")
    yield
    spark.conf.unset("igtdetect.spreadSmallScanBytes")


@pytest.fixture(scope="session")
def lexicons():
    """Hermetic flagship lexicons: the benchmark's seeded builder (corpus
    language names plus pseudo-names, gram lists from the corpus glosses),
    so parity tests run without the reference data directory. Parity holds
    for any lexicon because the oracle and Spark read the same one."""
    from perfbench.inputs import build_lexicons

    return build_lexicons(0)
