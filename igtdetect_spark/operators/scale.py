"""Scale-posture helpers: size-aware join-strategy selection.

The term-statistics queries (tf·idf, unigram familiarity) join a
token stream against a relation whose cardinality is the corpus
VOCABULARY.  At bench scale that relation is a few MB and a broadcast
hash join is the right plan; at 100 TB Heaps' law puts the vocabulary
at 10^8-10^9 distinct terms — an unconditional ``F.broadcast`` hint
there is a guaranteed driver/executor OOM.  These helpers make the
hint *conditional on a sound upper bound* so every term-level operator
inherits the same broadcast-or-shuffle decision instead of hard-coding
the small-scale plan.

Why an upper *bound* instead of a measurement: counting the vocabulary
would itself trigger a Spark job during query construction.  Instead we
use Catalyst's optimized-plan ``sizeInBytes`` statistic of the SOURCE
relation the vocabulary is derived from (for a parquet scan this is
file-size metadata — no job).  The bound is sound because every
distinct term appears at least once in the corpus text, so the total
string bytes of the distinct-term relation cannot exceed the corpus
text bytes.  If even that upper bound fits comfortably under the
broadcast threshold, broadcasting is safe; otherwise we fall back to a
plain shuffle join on the key — both sides of a term-statistics join
already hash-exchange on ``term`` for their aggregates, so AQE can
reuse the partitioning, and at vocabulary scale a shuffle is the only
plan that does not concentrate the relation on one node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default byte threshold under which the *upper bound* of the small
#: side must fall for a broadcast hint to be emitted.  64 MB: well
#: under Spark's 8 GB hard broadcast limit and typical driver memory,
#: while ~3 orders of magnitude above bench-scale vocabularies (the
#: sf0.1 documents table is <1 MB), so small-scale plans keep the
#: broadcast and the plan tests can exercise both branches by
#: overriding ``igtdetect.broadcastBoundBytes``.
DEFAULT_BROADCAST_BOUND = 64 * 1024 * 1024

_CONF_KEY = "igtdetect.broadcastBoundBytes"


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` estimate for ``df``'s optimized plan.

    For a parquet scan this is derived from file-size metadata and
    costs no Spark job.  For derived plans Catalyst propagates (and
    never shrinks below reality for simple projections), so using the
    SOURCE scan of the relation a vocabulary is built from yields a
    sound upper bound on the vocabulary's bytes.
    """
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def broadcast_bound_bytes(spark) -> int:
    """The active threshold: ``igtdetect.broadcastBoundBytes`` conf if
    set (tests force 0 to exercise the shuffle branch), else
    :data:`DEFAULT_BROADCAST_BOUND`."""
    try:
        raw = spark.conf.get(_CONF_KEY)
    except Exception:
        raw = None
    if raw is None:
        return DEFAULT_BROADCAST_BOUND
    return int(raw)


#: Upper bound (bytes, Catalyst scan estimate) under which
#: :func:`spread_small_scan` hash-partitions a scan across the default
#: parallelism.  64 MB: an input this small is at most a handful of
#: parquet row groups — often ONE, which makes every downstream map
#: stage a single task no matter how many file splits the planner
#: cuts (splits without a row-group start yield zero rows).  At
#: cluster scale inputs are far past the bound and the helper is a
#: no-op by construction, so it cannot shrink real parallelism.
DEFAULT_SPREAD_BOUND = 64 * 1024 * 1024

_SPREAD_CONF_KEY = "igtdetect.spreadSmallScanBytes"

#: Upper bound for the LAYOUT-aware branch of
#: :func:`spread_small_scan`: an input OVER the small-scan bound can
#: still be task-starved when its physical layout has fewer parquet
#: row groups than cores (a 150 MB single-row-group file runs every
#: map stage as ONE task — splits without a row-group start yield
#: zero rows).  Decided from the actual footers, not the size, and
#: only when the file COUNT is already below the parallelism — at
#: cluster scale inputs are many files, so the gate skips without
#: opening anything.  Conf ``igtdetect.spreadStarvedScanBytes``,
#: 0 disables; the 1 GiB default keeps the hash exchange bounded.
DEFAULT_STARVED_BOUND = 1024 * 1024 * 1024

_STARVED_CONF_KEY = "igtdetect.spreadStarvedScanBytes"


def spread_small_scan(df: DataFrame, key) -> DataFrame:
    """Spread a task-starved input across ``defaultParallelism`` via a
    hash exchange on ``key`` (a column name, or a Column for a derived
    key).  Fires when the plan estimate is under
    ``igtdetect.spreadSmallScanBytes`` (0 disables), or — the
    layout-aware branch — when a larger input's parquet footers show
    fewer row groups than half the cores (under
    ``igtdetect.spreadStarvedScanBytes``).

    Called at the entry of each operator whose per-row work (a Python
    UDF, ``mapInPandas``, regex / md5 / parsing over text) comes before
    its first exchange; scans themselves stay raw, so an operator whose
    first step is keyed (aggregate, window, join) pays no extra
    exchange.

    Why: a single-row-group parquet input (the driver tables, at EVERY
    SF) gives the vectorized reader exactly one non-empty task no
    matter how many file splits the planner cuts, so an expensive
    per-row kernel runs serially on one core (measured 2× on the
    Arrow-kernel operators at bench scale, 2-4× on the 150 MB
    relational scans).  The exchange moves only the pruned columns
    (Catalyst inserts the pruning Project below the repartition) and
    costs far less than the recovered parallelism.  HASH, not
    round-robin: round-robin sorts each input partition first for
    retry determinism (``spark.sql.execution.sortBeforeRepartition``)
    and that sort runs on the one starved task — pure overhead at every
    size (measured 4.9 s vs 1.5 s on a 6M-row file); the hash exchange
    is value-deterministic with no sort, so ``key`` should be a
    near-unique id column.  Row order is irrelevant to every consumer
    here (aggregates, hash-compared outputs).  Streaming frames,
    natively-parallel and disabled inputs, and frames that already end
    in a repartition pass through untouched."""
    if getattr(df, "isStreaming", False):
        return df
    spark = df.sparkSession
    try:
        if df._jdf.queryExecution().logical().getClass() \
                .getSimpleName() in ("Repartition",
                                     "RepartitionByExpression"):
            return df
    except Exception:
        pass
    try:
        raw = spark.conf.get(_SPREAD_CONF_KEY)
    except Exception:
        raw = None
    bound = DEFAULT_SPREAD_BOUND if raw is None else int(raw)
    if bound <= 0:
        return df
    try:
        size = plan_size_bytes(df)
    except Exception:
        return df
    par = spark.sparkContext.defaultParallelism
    if size <= bound:
        return df.repartition(par, key)
    # Layout-aware branch: over-bound inputs can still be task-starved
    # — a row group is the vectorized reader's atomic unit, so a
    # 150 MB single-group file runs every map stage as one task.
    # Decide from the physical layout: when the input is few files
    # (cheap gate — cluster-scale inputs are many files and skip here
    # without touching a footer) AND their total row-group count is
    # under half the parallelism, the exchange pays for itself.
    try:
        raw = spark.conf.get(_STARVED_CONF_KEY)
    except Exception:
        raw = None
    cap = DEFAULT_STARVED_BOUND if raw is None else int(raw)
    if cap <= 0 or size > cap:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= par:
        return df
    try:
        from urllib.parse import urlparse

        import pyarrow.parquet as pq

        groups = 0
        for f in files:
            path = urlparse(f).path or f
            groups += pq.ParquetFile(path).num_row_groups
            if groups >= par:
                return df
    except Exception:
        return df
    if groups < max(2, par // 2):
        return df.repartition(par, key)
    return df


def maybe_broadcast(small: DataFrame, *, bound_bytes: int) -> DataFrame:
    """Return ``F.broadcast(small)`` iff ``bound_bytes`` (a sound upper
    bound on ``small``'s materialized size) fits under the session's
    broadcast threshold; else return ``small`` with a ``shuffle_hash``
    hint so the planner partitions both sides on the join key and
    builds per-partition hash tables.

    Why an explicit ``shuffle_hash`` hint in the fallback rather than
    no hint at all: Catalyst's OWN size estimate of a small aggregate
    can trip ``spark.sql.autoBroadcastJoinThreshold`` and re-introduce
    the broadcast this helper exists to avoid — the over-bound branch
    must be broadcast-free by construction, not by estimate.  A
    per-partition build side of vocabulary/numPartitions rows is
    memory-safe at any corpus scale (term hashes distribute uniformly),
    and skips the sort a merge join would add.

    ``bound_bytes`` is the caller's responsibility precisely because
    the safe bound depends on provenance: for a vocabulary derived from
    a corpus, pass :func:`plan_size_bytes` of the CORPUS scan, not of
    the aggregate (Catalyst cannot know the aggregate's reduction
    factor, and guessing small is how OOMs happen).
    """
    spark = small.sparkSession
    if bound_bytes <= broadcast_bound_bytes(spark):
        return F.broadcast(small)
    return small.hint("shuffle_hash")
