"""As-of (most-recent-match) join — a standard warehouse operator Spark
has no native form of.

``left ASOF JOIN right`` pairs every left row with the single right row
having the greatest timestamp ≤ the left row's timestamp, per key. The
naive SQL (equi-join on key + ``r.ts <= l.ts`` + per-left max) explodes
quadratically per key — a left row matches EVERY earlier right row
before the aggregate prunes. The scale-correct plan used here is the
union-window form:

1. tag and union both sides into one relation (key, t, tag, payload),
2. ONE shuffle on key,
3. a running ``last(right_payload, ignorenulls=True)`` over
   (partition key, order t, tag) carries the latest right payload
   forward into each left row.

Cost is one exchange + one sort — the same as a plain equi-join — and
the window never materializes the per-key cross product. Ties: right
rows sorting before left rows at equal t makes the bound inclusive;
equal-timestamp right rows are broken by the ordered tiebreak column
(largest wins), so the result is deterministic.

Skew note: one hot key serializes its window partition. The cure is
wired as ``bucket_width_sec``: pre-bucket time into coarse ranges, run
the union-window per (key, bucket) — a hot key's rows then spread over
its time buckets instead of serializing through one sort partition —
and stitch the per-bucket carry-in (the last right row of any earlier
bucket) with one more window over the TINY (key, bucket) relation.
Default (None) keeps the single-window plan: as-of keys (user,
instrument, device) are near-uniform in practice and the bucketed plan
costs two extra small shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def auto_bucket_width(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    hot_key_threshold: int = 100_000,
    probe_fraction: float = 1.0,
) -> int | None:
    """Hot-key probe for :func:`asof_join`: decide whether the bucketed
    plan is worth its two extra small shuffles, and pick a width.

    Samples both sides at ``probe_fraction`` (set well below 1.0 at
    cluster scale — the probe is two small aggregate JOBS run at plan
    time, the price of auto mode), estimates the hottest key's total
    row count, and returns ``None`` (keep the single-window plan) when
    the estimate stays under ``hot_key_threshold``. Above it, the width
    spreads the full observed time range over
    ``32 × defaultParallelism`` buckets, so the hot key's
    window sort parallelizes across every core with tens of buckets
    each (amortizing the per-bucket carry-in stitch).

    The threshold default is row-count-shaped, not bytes: a window
    partition of 100k rows sorts in ~10s of ms, far below the point
    where one straggler partition dominates a stage."""
    probe = left.select(
        F.col(on).alias("_k"), F.col(left_ts).cast("timestamp").alias("_t")
    ).unionByName(
        right.select(
            F.col(on).alias("_k"),
            F.col(right_ts).cast("timestamp").alias("_t"),
        )
    )
    if probe_fraction < 1.0:
        probe = probe.sample(fraction=probe_fraction, seed=41)
    stats = (
        probe.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.min("_t").alias("_lo"), F.max("_t").alias("_hi"))
        .agg(
            F.max("_n").alias("max_n"),
            F.min("_lo").alias("lo"),
            F.max("_hi").alias("hi"),
        )
        .collect()[0]
    )
    if stats["max_n"] is None:
        return None
    est_max = stats["max_n"] / probe_fraction
    if est_max < hot_key_threshold:
        return None
    span_sec = max(
        1, int((stats["hi"] - stats["lo"]).total_seconds())
    )
    spark = left.sparkSession
    n_buckets = max(
        2, 32 * spark.sparkContext.defaultParallelism
    )
    return max(1, -(-span_sec // n_buckets))  # ceil div


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tiebreak: str | None = None,
    bucket_width_sec: int | str | None = None,
    hot_key_threshold: int = 100_000,
    probe_fraction: float = 1.0,
) -> DataFrame:
    """Left as-of join: every row of ``left``, plus ``right_cols`` from
    the latest ``right`` row with ``right_ts`` ≤ ``left_ts`` on the same
    ``on`` key (NULLs when no such row). ``tiebreak`` orders right rows
    sharing a timestamp (largest value wins); required for a
    deterministic result when such ties exist.

    ``bucket_width_sec``: hot-key cure. When set, the running-carry
    window partitions by (key, floor(epoch/width)) so a hot key's rows
    parallelize across its time buckets; rows whose bucket has no
    earlier right row take the carry-in — the last right row of any
    EARLIER bucket, computed with one window over the tiny
    (key, bucket) relation (rowsBetween(unboundedPreceding, -1), i.e.
    strictly previous buckets) and coalesced in. Output is identical to
    the unbucketed plan (pytest-pinned); pick a width that yields
    10-100× more buckets than the hot key's row count per core.

    ``bucket_width_sec="auto"``: run :func:`auto_bucket_width` — a
    plan-time probe (two small aggregate jobs over a ``probe_fraction``
    sample of both sides' keys) that keeps the single-window plan when
    no key exceeds ``hot_key_threshold`` rows and otherwise spreads the
    observed time range over ~32 buckets per core. Opt-in because of
    the probe jobs; at cluster scale set ``probe_fraction`` ≪ 1."""
    if bucket_width_sec == "auto":
        bucket_width_sec = auto_bucket_width(
            left, right, on, left_ts, right_ts,
            hot_key_threshold=hot_key_threshold,
            probe_fraction=probe_fraction,
        )
    elif isinstance(bucket_width_sec, str):
        raise ValueError(
            f"bucket_width_sec must be an int, None, or 'auto'; "
            f"got {bucket_width_sec!r}"
        )
    carry = [c for c in right_cols if c != right_ts]
    # The whole right payload rides in ONE struct carried by ONE
    # last(ignorenulls) — carrying each column independently would
    # back-fill a NULL payload cell from an OLDER right row, fabricating
    # a mixed row that no single right row ever contained. The struct is
    # NULL on left rows and non-NULL on every right row (even when its
    # payload fields are NULL), so the carry is all-or-nothing.
    from pyspark.sql.types import StructField, StructType, TimestampType

    r_struct_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in carry]
        + [StructField("_rts", TimestampType())]
    )
    l = left.select(
        F.lit(1).alias("_tag"),
        F.col(left_ts).cast("timestamp").alias("_t"),
        "*",
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    r = right.select(
        F.lit(0).alias("_tag"),
        F.col(right_ts).cast("timestamp").alias("_t"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c != on],
        F.col(on),
        F.struct(
            *[F.col(c) for c in carry],
            F.col(right_ts).cast("timestamp").alias("_rts"),
        ).alias("_r"),
    ).select(*l.columns)  # align column order for the union

    order = [F.col("_t"), F.col("_tag")]
    if tiebreak is not None:
        order.append(F.col("_r").getField(tiebreak).asc_nulls_first())

    u = l.unionByName(r)
    if bucket_width_sec is None:
        w = (
            Window.partitionBy(on)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.withColumn(
            "_r", F.last(F.col("_r"), ignorenulls=True).over(w)
        )
    else:
        # NULL timestamps bucket to a sentinel BELOW every real bucket:
        # they sort first in the plain plan (carry NULL) and must not be
        # dropped by the carry-in equi-join
        u = u.withColumn(
            "_b",
            F.coalesce(
                F.floor(F.unix_timestamp("_t") / bucket_width_sec),
                F.lit(-(2 ** 62)),
            ),
        )
        w_in = (
            Window.partitionBy(on, "_b")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.withColumn(
            "_rin", F.last(F.col("_r"), ignorenulls=True).over(w_in)
        )
        # last right struct of each bucket, by the SAME ordering the
        # in-bucket carry uses (max of the order key among right rows)
        per_bucket = (
            u.filter(F.col("_tag") == 0)
            .groupBy(on, "_b")
            .agg(
                F.max_by(
                    F.col("_r"),
                    F.struct(
                        F.col("_t"),
                        *([F.col("_r").getField(tiebreak)]
                          if tiebreak is not None else []),
                    ),
                ).alias("_rlast")
            )
        )
        # all (key, bucket) pairs present on EITHER side, so a bucket
        # with only left rows still receives its carry-in. Joins are
        # NULL-SAFE on the key: the plain plan's Window.partitionBy
        # groups NULL keys into one partition, and the bucketed plan
        # must reproduce that (an equi-join would silently DROP NULL-key
        # left rows — review finding). Note this window semantics means
        # NULL-key rows carry among themselves, unlike a SQL ASOF
        # equi-join where NULL matches nothing; both plans agree with
        # each other, which is this function's contract.
        buckets = u.select(on, "_b").distinct()
        w_carry = (
            Window.partitionBy(on)
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pb = per_bucket.select(
            F.col(on).alias("_pbk"), F.col("_b").alias("_pbb"), "_rlast"
        )
        carry_in = (
            buckets.join(
                pb,
                F.col(on).eqNullSafe(F.col("_pbk"))
                & (F.col("_b") == F.col("_pbb")),
                "left",
            )
            .withColumn(
                "_rprev", F.last(F.col("_rlast"), ignorenulls=True).over(w_carry)
            )
            .select(F.col(on).alias("_cik"), F.col("_b").alias("_cib"),
                    "_rprev")
        )
        filled = (
            filled.join(
                carry_in,
                F.col(on).eqNullSafe(F.col("_cik"))
                & (F.col("_b") == F.col("_cib")),
                "left",
            )
            .withColumn("_r", F.coalesce(F.col("_rin"), F.col("_rprev")))
        )
    return (
        filled.filter(F.col("_tag") == 1)
        .select(*left.columns,
                *[F.col("_r").getField(c).alias(c) for c in carry],
                F.col("_r").getField("_rts").alias(f"asof_{right_ts}"))
    )
