"""The package's one hash family (functions.hashing.md5_long): positive
60-bit range, deterministic, seeded members independent, and a ~uniform
band/bucket distribution (what LSH recall/selectivity rests on)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_foundations_spark.functions.hashing import md5_long
from data_pipeline_foundations_spark.operators.dedup import (
    HASH_P, with_shingle_hashes,
)
from data_pipeline_foundations_spark.tables import load


def test_fast_long_range_and_determinism(spark):
    """md5_long: every value in [0, 2^60), the seeded family member
    differs, and re-evaluation gives the same values."""
    df = spark.range(2000).select(
        F.concat(F.lit("tok"), F.col("id")).alias("s"))
    got = df.select(md5_long("s").alias("m"),
                    md5_long("s", seed=7).alias("ms")).collect()
    for r in got:
        assert 0 <= r.m < 2 ** 60
        assert 0 <= r.ms < 2 ** 60
        assert r.m != r.ms  # seeded family member is independent
    # deterministic across evaluations
    again = {(r.s, r.m) for r in df.select(
        "s", md5_long("s").alias("m")).collect()}
    assert again == {(f"tok{i}", r.m) for i, r in enumerate(got)}


def test_bucket_distribution_equivalence(spark):
    """The hash spreads tokens ~uniformly over LSH-style buckets:
    chi-square-ish bound — no bucket holds more than 3x the expected
    share on 20k distinct tokens into 64 buckets."""
    n, buckets = 20_000, 64
    df = spark.range(n).select(
        F.concat(F.lit("w"), F.col("id")).alias("s"))
    counts = (df.select((md5_long("s") % buckets).alias("b"))
              .groupBy("b").count().collect())
    assert len(counts) == buckets
    assert max(r["count"] for r in counts) < 3 * (n / buckets)


def test_shingle_pipeline_stays_in_range(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(200)
    arrs = (with_shingle_hashes(docs, "text", 3, out="sh")
            .select("sh").collect())
    for row in arrs:
        for v in row.sh:
            assert 0 <= v < HASH_P
