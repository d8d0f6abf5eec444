"""HyperLogLog sketch (operators/sketches): accuracy, small-range
branch, plan shape."""

from pyspark.sql import functions as F

from igtdetect_spark.operators.sketches import (
    hll_cardinality,
    hll_registers,
)


def _keyed(spark, n, tag="g"):
    return spark.range(n).select(
        F.lit(tag).alias("g"), F.col("id").cast("string").alias("k")
    )


class TestHll:
    def test_estimate_within_expected_error(self, spark):
        # m=512 → σ ≈ 4.6%; 20k distinct keys, assert within 4σ
        out = hll_cardinality(
            _keyed(spark, 20_000), F.col("k"), ["g"], p=9
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["exact_distinct"] == 20_000
        assert abs(r["hll_est"] - 20_000) / 20_000 < 0.185
        assert r["err_ppm"] == abs(r["hll_est"] - 20_000) * 10**6 // 20_000

    def test_register_relation_is_bounded(self, spark):
        regs = hll_registers(
            _keyed(spark, 50_000), F.col("k"), ["g"], p=8
        )
        assert regs.count() <= 256
        # rho range sanity: 1..(48-8)+1
        mm = regs.agg(F.min("rho"), F.max("rho")).collect()[0]
        assert mm[0] >= 1 and mm[1] <= 41

    def test_small_range_linear_counting(self, spark):
        import math

        # 30 distinct keys at m=256: zeros > 0 and E well under 2.5m →
        # the linear-counting branch; verify against the closed form
        # computed from the ACTUAL number of occupied buckets.
        df = _keyed(spark, 30)
        occupied = hll_registers(df, F.col("k"), ["g"], p=8).count()
        zeros = 256 - occupied
        want = math.floor(256 * math.log(256 / zeros))
        out = hll_cardinality(df, F.col("k"), ["g"], p=8).collect()[0]
        assert out["hll_est"] == want
        assert abs(out["hll_est"] - 30) <= 5

    def test_multi_group_and_plan(self, spark):
        df = spark.range(8_000).select(
            (F.col("id") % 4).cast("string").alias("g"),
            F.col("id").cast("string").alias("k"),
        )
        q = hll_cardinality(df, F.col("k"), ["g"], p=8)
        assert q.count() == 4
        plan = str(q._jdf.queryExecution().executedPlan())
        assert "ArrowEvalPython" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
