"""Pins for the r13 optimization-round internals.

Each optimization changed HOW a plan is constructed, never WHAT it
computes; these tests pin that equivalence directly so a future
refactor cannot silently drift:
  - with_shingle_hashes' one-parse F.expr tree is canonically EQUAL
    (Catalyst sameResult) to the original lambda-HOF tree,
  - the packed-bitset words literal built by one SQL parse equals the
    Py4J element-wise literal,
  - tables.load memoizes the DataFrame per (session, sf_dir, table)
    while returning the same rows as a fresh read (plan reuse, not
    result caching).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _old_shingle_form(df, text_col, n):
    """The pre-r13 lambda-HOF construction, verbatim."""
    from data_pipeline_foundations_spark.functions.hashing import md5_long
    from data_pipeline_foundations_spark.operators.dedup import (
        HASH_P, SHINGLE_C,
    )

    th = F.transform(F.split(F.col(text_col), " "),
                     lambda t: md5_long(t) % HASH_P)
    d = df.withColumn("_th", th)
    acc = F.col("_th")
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(F.col("_th"), j + 1, F.size(F.col("_th"))),
            lambda x, y: (x * F.lit(SHINGLE_C) + y) % F.lit(HASH_P))
    return (d.withColumn("sh", F.filter(acc, lambda x: x.isNotNull()))
            .drop("_th"))


def test_shingle_expr_parse_same_plan(spark, sf_dir):
    """The F.expr one-parse tree canonicalizes to the SAME plan as the
    lambda form — for both registry n values."""
    from data_pipeline_foundations_spark.operators.dedup import (
        with_shingle_hashes,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    for n in (3, 5):
        new = (with_shingle_hashes(docs, "text", n, out="sh")
               .select("doc_id", "sh"))
        old = _old_shingle_form(docs, "text", n).select("doc_id", "sh")
        assert new._jdf.queryExecution().optimizedPlan().sameResult(
            old._jdf.queryExecution().optimizedPlan()), \
            f"plan drift for n={n}"


def test_words_literal_equals_lit_list(spark):
    """One-parse array literal == element-wise F.lit list, including
    negative (two's-complement packed) words."""
    from data_pipeline_foundations_spark.operators.sketches import (
        _words_literal,
    )

    words = [0, 1, -1, 2**62, -(2**62), 123456789123456789]
    df = spark.range(1)
    got = df.select(_words_literal(words).alias("w")).collect()[0]["w"]
    want = df.select(F.array(*[F.lit(w).cast("long") for w in words])
                     .alias("w")).collect()[0]["w"]
    assert got == want == words


def test_bloom_probe_matches_after_literal_change(spark):
    """bloom_filter_col over the parsed literal flags exactly the packed
    keys (and no false negatives by construction)."""
    from data_pipeline_foundations_spark.operators.sketches import (
        bloom_filter_col, bloom_pack_keys, bloom_positions_hashed_for,
    )

    bits = 1 << 14
    keys = [7, 99, 12345, 2**59 + 11]
    words = bloom_pack_keys(keys, bits)
    pos = bloom_positions_hashed_for(bits)
    probe = (spark.createDataFrame([(k,) for k in keys + [5, 6, 8888]],
                                   "s long")
             .select("s", bloom_filter_col(F.col("s"), words,
                                           positions=pos).alias("hit")))
    got = {r["s"]: bool(r["hit"]) for r in probe.collect()}
    for k in keys:
        assert got[k], f"packed key {k} must probe true (no false negatives)"


def test_load_memoizes_plan_not_results(spark, sf_dir):
    """Same DataFrame object per (session, sf_dir, table); rows equal a
    fresh un-memoized read; the events ns→us conversion survives."""
    from data_pipeline_foundations_spark.tables import load, table_path

    a = load(spark, sf_dir, "nation")
    b = load(spark, sf_dir, "nation")
    assert a is b
    fresh = spark.read.parquet(table_path(sf_dir, "nation"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple,
                                                         fresh.collect()))
    ev = load(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")  # ns→us applied
    assert load(spark, sf_dir, "events") is ev
