import pytest


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
