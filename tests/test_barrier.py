"""plans.fixpoint.stats_barrier: rows/schema identical to plain
localCheckpoint, and (when the internal API is present) the estimated
sizeInBytes actually resets — the property that keeps aggregation-free
self-join fixpoints (Boruvka pointer doubling) off the BigInt cliff."""

from pyspark.sql import functions as F

from ophois_spark.plans.fixpoint import stats_barrier


def _size_bits(df) -> int:
    s = str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return int(s).bit_length()


def test_barrier_preserves_rows_and_schema(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 3 % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    b = stats_barrier(df)
    assert b.schema == df.schema
    assert sorted(r["h"] for r in b.collect()) == sorted(r["h"] for r in df.collect())


def test_barrier_resets_estimate_under_self_join_chain(spark):
    s = spark.range(64).select(F.col("id").alias("comp"), ((F.col("id") + 1) % 64).alias("s"))
    # four self-join doublings with plain checkpoint: estimate compounds
    plain = s.localCheckpoint(eager=True)
    for _ in range(4):
        plain = (
            plain.alias("a")
            .join(plain.select(F.col("comp").alias("s"), F.col("s").alias("s2")).alias("b"), "s")
            .select("comp", F.col("s2").alias("s"))
            .localCheckpoint(eager=True)
        )
    barriered = stats_barrier(s)
    for _ in range(4):
        barriered = stats_barrier(
            barriered.alias("a")
            .join(
                barriered.select(F.col("comp").alias("s"), F.col("s").alias("s2")).alias("b"),
                "s",
            )
            .select("comp", F.col("s2").alias("s"))
        )
    assert sorted(map(tuple, barriered.collect())) == sorted(map(tuple, plain.collect()))
    # the point of the barrier: bounded estimate regardless of chain depth
    assert _size_bits(barriered) <= 128, _size_bits(barriered)
    assert _size_bits(plain) > _size_bits(barriered)
