"""sql_ident: the one quoting helper for identifiers in generated SQL."""

from __future__ import annotations

from data_pipeline_foundations_spark.functions.sql import sql_ident
from data_pipeline_foundations_spark.operators.dedup import with_shingle_hashes


def test_sql_ident_quotes_and_escapes():
    assert sql_ident("fee") == "`fee`"
    assert sql_ident("a b.c") == "`a b.c`"
    assert sql_ident("x`) AS y, (`z") == "`x``) AS y, (``z`"


def test_sql_ident_round_trips_through_the_parser(spark):
    name = "odd`name"
    df = spark.createDataFrame([(1,)], f"{sql_ident(name)} long")
    assert df.columns == [name]
    assert df.selectExpr(f"{sql_ident(name)} + 1 AS v").first().v == 2


def test_shingle_hashes_on_backticked_column(spark):
    rows = [(1, "the quick brown fox jumps")]
    odd = spark.createDataFrame(rows, "id long, `te``xt` string")
    plain = spark.createDataFrame(rows, "id long, text string")
    got = with_shingle_hashes(odd, "te`xt").select("sh").first()
    assert got == with_shingle_hashes(plain, "text").select("sh").first()
