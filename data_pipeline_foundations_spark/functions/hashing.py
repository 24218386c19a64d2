"""Cross-engine deterministic hashing.

MinHash/SimHash/fingerprint operators need hash functions that (a) run
JVM-side in Spark for speed and (b) can be reproduced exactly by the DuckDB
oracle. Spark's ``hash()``/``xxhash64()`` are Spark-specific, so the portable
primitive here is **md5 over utf8**, available and identical in both engines,
with a 15-hex-digit prefix (60 bits) parsed as a positive bigint.

Spark:  conv(substring(md5(s), 1, 15), 16, 10) → decimal-string → bigint
DuckDB: CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) — verified in
tests. 60 bits keeps everything positive and inside int64 in both engines.

This is the ONE hash family of the package: every operator hashes
through :func:`md5_long` / :func:`md5_long_sql`, so every registered
query that hashes is checked bit-for-bit against its DuckDB oracle
(tests/test_oracle_parity.py). A JVM-only family such as xxhash64 cannot
be oracle-checked (DuckDB cannot reproduce it) and measured 0.80-1.01x of
md5 on six operators (SCALING.md), so it does not earn a second path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_DIGITS = 15  # 60 bits < 2^63: positive bigint in both engines


def md5_long(col: Column | str, seed: int | None = None) -> Column:
    """Deterministic 60-bit positive hash of a string column.

    ``seed`` derives an independent hash family member by prefixing the
    input — the standard trick for MinHash permutations.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c if seed is None else F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(s), 1, HEX_DIGITS), 16, 10).cast("long")


def oracle_md5_long(sql_expr: str, seed: int | None = None) -> str:
    s = sql_expr if seed is None else f"('{seed}|' || {sql_expr})"
    return (f"CAST(('0x' || substring(md5({s}), 1, {HEX_DIGITS})) AS BIGINT)")


def md5_long_sql(tok_expr: str, seed: int | None = None) -> str:
    """Spark-SQL string twin of :func:`md5_long` — for operators that
    assemble their expression tree as ONE ``F.expr`` parse instead of a
    Py4J call per node (r13 opt: each Py4J round trip is ~1 ms of
    driver time at plan-build, paid per query invocation; a parsed
    string of any size is one round trip). Produces the identical
    analyzed expression."""
    s = tok_expr if seed is None else f"concat('{seed}|', {tok_expr})"
    return (f"CAST(conv(substring(md5({s}), 1, {HEX_DIGITS}), 16, 10)"
            f" AS BIGINT)")
