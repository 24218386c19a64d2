"""Deterministic distributed sketches: cross-engine HyperLogLog.

Spark's ``approx_count_distinct`` and DuckDB's ``approx_count_distinct``
use different hash functions and register layouts, so their estimates can
never be compared. This module builds the HLL sketch from first
principles on the portable md5 hash (functions/hashing.py), entirely in
integer arithmetic, so the *same estimate, bit for bit* comes out of both
engines — the property every other operator in this repo holds.

API split (three composable stages, so a production caller never pays an
exact-count shuffle to get an estimate):
  - :func:`hll_registers` — docs → sparse register table
    (strata, bucket, m_j). This IS the sketch: |strata|·≤256 rows.
  - :func:`hll_merge` — register tables → one register table
    (max-of-maxes). Sketches from different shards/days/engines combine
    associatively; this is the mergeable-summary contract, exercised by
    tests/test_text_quality.py::test_hll_merge_equals_whole.
  - :func:`hll_estimate` — register table → (strata, est_distinct,
    zero_registers). Densifies to the full 256-register grid and takes
    the harmonic mean.
:func:`hll_distinct_by` is the one-shot composition (registers →
estimate); the x27 registry entry joins an exact ``countDistinct`` twin
alongside purely as the oracle-coverage device — the operator itself no
longer computes it.

Scale shape (the reason to sketch at all):
  - The register table is a ``groupBy(stratum, bucket).max(rho)`` — a
    map-side partial-max over m=256 buckets per stratum, so the shuffle
    carries at most |strata|·m tiny rows regardless of corpus size.
  - rho (the trailing-zero rank of the hash suffix) comes from a
    broadcast 52-row lowbit→rank lookup, not log2() — float logs differ
    across libm implementations; ``w & -w`` plus an equi-join does not.
  - The harmonic mean is computed as an exact integer sum of
    2^(53 - M_j) (register max rho ≤ 53 keeps every term and the 256-term
    sum inside int64), with ONE double division at the end — identical
    IEEE-754 on both engines.

Deviation from textbook HLL, documented: the small/large-range bias
corrections (linear counting below 2.5m, the 2^32 clamp) are omitted —
both need ln(), whose last-ulp behavior is libm-specific. The raw
estimator's error (~1.04/√m ≈ 6.5% at m=256) is reported alongside
``zero_registers``, the caller's signal for the sparse regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, oracle_fingerprint

HLL_P = 8                    # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_W = 60 - HLL_P           # suffix width after the bucket bits
HLL_RHO_CAP = HLL_W + 1      # rho for an all-zero suffix
# alpha_256 · m² · 2^53 — the full numerator as one double literal, so both
# engines perform exactly one float op (the division by the register sum).
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)


def hll_registers(docs: DataFrame, *, strata_col: str = "lang",
                  text_col: str = "text") -> DataFrame:
    """Sparse per-stratum HLL register table: (strata, bucket, m_j).

    This is the sketch itself — |strata|·≤256 rows, mergeable with
    :func:`hll_merge`, estimable with :func:`hll_estimate`. Buckets no
    fingerprint hashed into are absent (their register value is 0).
    """
    spark = docs.sparkSession
    d = docs.select(F.col(strata_col).alias("strata"),
                    fingerprint(text_col).alias("h"))
    posts = d.select(
        "strata",
        F.col("h").bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
        F.expr(f"shiftright(h, {HLL_P})").alias("w"))

    # lowbit → trailing-zero rank, broadcast (52 rows). w = 0 has no
    # lowbit row; its rho is the cap.
    lk = (spark.range(HLL_W)
          .select(F.col("id").cast("int").alias("t"),
                  F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))")
                  .alias("lowbit")))
    rho = (posts
           .withColumn("lowbit", F.col("w").bitwiseAND(-F.col("w")))
           .join(F.broadcast(lk), "lowbit", "left")
           .select("strata", "bucket",
                   F.when(F.col("w") == 0, F.lit(HLL_RHO_CAP))
                   .otherwise(F.col("t") + 1).alias("rho")))
    return rho.groupBy("strata", "bucket").agg(F.max("rho").alias("m_j"))


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register tables from :func:`hll_registers` (max-of-maxes).

    Associative and commutative: sketching each shard then merging gives
    bit-identical registers to sketching the union — the property that
    lets a 1000-executor fleet sketch day-partitions independently and
    combine them driver-free. Shuffle payload: the registers themselves.
    """
    if not sketches:
        raise ValueError("hll_merge needs at least one register table")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("strata", "bucket").agg(F.max("m_j").alias("m_j"))


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Register table → (strata, est_distinct, zero_registers).

    Densifies to the full strata×256 grid (absent buckets are register
    0), then the integer-exact harmonic mean described in the module
    docstring. Input rows: |strata|·≤256 — trivially small at any corpus
    scale.
    """
    spark = regs.sparkSession
    grid = (regs.select("strata").distinct()
            .crossJoin(F.broadcast(
                spark.range(HLL_M).select(F.col("id").alias("bucket")))))
    full = (grid.join(regs, ["strata", "bucket"], "left")
            .select("strata", F.coalesce("m_j", F.lit(0)).alias("m_j")))
    return full.groupBy("strata").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m_j AS INT))"))
        .alias("s"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0)).cast("long")
        .alias("zero_registers")).select(
            "strata",
            (F.lit(HLL_NUMERATOR) / F.col("s")).alias("est_distinct"),
            "zero_registers")


def hll_distinct_by(docs: DataFrame, *, strata_col: str = "lang",
                    text_col: str = "text") -> DataFrame:
    """Per-stratum HLL estimate of distinct document fingerprints:
    (strata, est_distinct, zero_registers). Sketch-only — the exact
    count a caller may want next to it is a separate (and much more
    expensive) ``countDistinct`` shuffle, deliberately NOT bundled here.
    """
    return hll_estimate(
        hll_registers(docs, strata_col=strata_col, text_col=text_col))


def oracle_hll_distinct_sql(*, strata_sql: str = "lang",
                            table: str = "documents") -> str:
    return f"""
    WITH d AS (
        SELECT {strata_sql} AS strata, {oracle_fingerprint('text')} AS h
        FROM {table}
    ), posts AS (
        SELECT strata, h & {HLL_M - 1} AS bucket, h >> {HLL_P} AS w FROM d
    ), lk AS (
        SELECT t, (CAST(1 AS BIGINT) << CAST(t AS INT)) AS lowbit
        FROM (SELECT unnest(range({HLL_W})) AS t)
    ), rho AS (
        SELECT strata, bucket,
               CASE WHEN w = 0 THEN {HLL_RHO_CAP} ELSE lk.t + 1 END AS rho
        FROM posts LEFT JOIN lk ON lk.lowbit = (posts.w & -posts.w)
    ), regs AS (
        SELECT strata, bucket, MAX(rho) AS m_j FROM rho GROUP BY 1, 2
    ), grid AS (
        SELECT l.strata, g.bucket
        FROM (SELECT DISTINCT strata FROM d) l
        CROSS JOIN (SELECT unnest(range({HLL_M})) AS bucket) g
    ), dense AS (
        SELECT g.strata, COALESCE(r.m_j, 0) AS m_j
        FROM grid g LEFT JOIN regs r USING (strata, bucket)
    ), agg AS (
        SELECT strata,
               SUM(CAST(1 AS BIGINT) << CAST(53 - m_j AS INT)) AS s,
               CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS zero_registers
        FROM dense GROUP BY 1
    ), ex AS (
        SELECT strata, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
        FROM d GROUP BY 1
    )
    SELECT strata AS lang, CAST({HLL_NUMERATOR!r} AS DOUBLE) / s AS est_distinct,
           zero_registers, n_exact
    FROM agg JOIN ex USING (strata)
    """


# ---------------------------------------------------------------------------
# Count-Min Sketch — the mergeable COUNTING twin of the HLL above
# ---------------------------------------------------------------------------
# Cormode & Muthukrishnan, "An improved data stream summary: the
# count-min sketch and its applications", J. Algorithms 2005. Same
# portability discipline as HLL: every hash row is the md5 portable hash
# under a distinct seed, every cell an exact int64 sum — so the same
# sketch, bit for bit, comes out of Spark and DuckDB, and sketches built
# on different shards/days/engines merge by cell-wise addition. Estimates
# are upper bounds (est >= true always; error <= 2e/W · N with
# probability 1 - (1/2)^D), pinned by tests.

CMS_D = 4                    # hash rows
CMS_W = 256                  # buckets per row
CMS_SEED0 = 101              # retired seed base (pre-r11 per-row md5 family)
_CMS_P = 2_147_483_647       # 2^31 - 1 (the multiply-add family's prime)


_CMS_SLICE = (1 << 30) - 1   # low-30-bit mask of the 60-bit md5


def _cms_bucket_hashed(hcol, r: int):
    """Row-r bucket of an already-md5-hashed non-negative long key.

    r12 (ADVICE): Kirsch–Mitzenmacher over TWO independent 30-bit
    slices of the 60-bit md5 — g_r = (h1 + (r+1)·h2) mod P mod W with
    h1 = low 30 bits, h2 = high 30 bits. The r11 family derived every
    row as an affine function of the ONE value (h mod P), so two keys
    colliding mod 2^31-1 collided in EVERY row and the min-of-D error
    rows were correlated.

    What the slice family buys — stated PRE-mod-W (r13, ADVICE): with
    distinct multipliers on disjoint slices, equality of the mod-P
    values in two different rows r≠s forces (r−s)·Δh2 ≡ 0 mod P
    (prime, |r−s| < P) hence Δh2 = Δh1 = 0 — a full 60-bit collision.
    The terminal ``% W`` fold is NOT covered by that argument: two keys
    distinct mod P can still land in the same W-bucket in any row, with
    independent ~1/W probability per row — which is exactly the
    ordinary CMS collision budget the D-row min exists to absorb. So
    the claim is "rows collide TOGETHER only on a 60-bit collision;
    per-row 1/W collisions stay independent", not "cross-row collision
    needs 60 bits". One-sidedness (est ≥ true) holds for ANY bucket
    family and is the pinned correctness guarantee; max intermediate
    h1 + D·h2 < 5·2^30 stays far inside int64, and the identical
    exact-int arithmetic runs in DuckDB so sketches stay bit-equal
    cross-engine."""
    h1 = hcol.bitwiseAND(F.lit(_CMS_SLICE))
    h2 = F.shiftright(hcol, 30)
    return (((h1 + F.lit(r + 1) * h2) % F.lit(_CMS_P))
            % F.lit(CMS_W)).cast("long")


def oracle_cms_bucket_hashed(h_sql: str, r: int) -> str:
    return (f"((((({h_sql}) & {_CMS_SLICE}) + {r + 1} * (({h_sql}) >> 30))"
            f" % {_CMS_P}) % {CMS_W})")


def cms_sketch(items: DataFrame, key_col: str) -> DataFrame:
    """(row, bucket, cnt): the D×W sketch of the key stream. One
    map-side-combined shuffle of at most D·W tiny rows regardless of
    stream size — the explode is D rows per item, scan-local, and the
    key pays ONE md5 (rows come from the multiply-add family)."""
    from ..functions.hashing import md5_long
    rows = F.array(*[
        F.struct(F.lit(r).cast("int").alias("row"),
                 _cms_bucket_hashed(F.col("_h"), r).alias("bucket"))
        for r in range(CMS_D)])
    return (items.select(md5_long(F.col(key_col)).alias("_h"))
            .select(F.explode(rows).alias("rb"))
            .select("rb.row", "rb.bucket")
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum — the mergeable-summary contract (associative,
    commutative; exact int64 sums)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, keys: DataFrame,
                 key_col: str) -> DataFrame:
    """(key, est_count): min over the key's D cells. The sketch is D·W
    rows — broadcast; a key whose cell was never touched reads 0."""
    from ..functions.hashing import md5_long
    rows = F.array(*[
        F.struct(F.lit(r).cast("int").alias("row"),
                 _cms_bucket_hashed(F.col("_h"), r).alias("bucket"))
        for r in range(CMS_D)])
    cells = (keys.select(F.col(key_col),
                         md5_long(F.col(key_col)).alias("_h"))
             .select(F.col(key_col), F.explode(rows).alias("rb"))
             .select(key_col, "rb.row", "rb.bucket"))
    return (cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
            .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
            .groupBy(key_col)
            .agg(F.min("cnt").alias("est_count")))


def oracle_cms_ctes(key_sql: str, src_sql: str) -> str:
    """CTEs ``cms_sketch`` (row, bucket, cnt) over ``src_sql``'s
    ``key_sql`` stream — the DuckDB twin of cms_sketch (one md5 per
    key instance, multiply-add row derivation)."""
    from ..functions.hashing import oracle_md5_long
    row_selects = "\n        UNION ALL\n        ".join(
        f"SELECT {r} AS row, {oracle_cms_bucket_hashed('h', r)} "
        f"AS bucket FROM cms_h"
        for r in range(CMS_D))
    return f"""cms_h AS (
        SELECT ({oracle_md5_long(key_sql)}) AS h FROM {src_sql}
    ), cms_cells AS (
        {row_selects}
    ), cms_sketch AS (
        SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cms_cells GROUP BY row, bucket
    )"""


# ---------------------------------------------------------------------------
# Bloom filter — the mergeable MEMBERSHIP sketch completing the trio
# ---------------------------------------------------------------------------
# Bloom, "Space/time trade-offs in hash coding with allowable errors",
# CACM 1970. Same portability discipline: bit positions are exact-int
# hashes under K distinct constants, the filter is the DISTINCT set of
# set positions (union-mergeable), membership is "all K positions set" —
# one-sided like CMS (no false negatives), pinned by tests. The
# oracle-checkable form materializes the filter as a position TABLE and
# tests membership with a broadcast equi-join (positions die map-side);
# a production kernel would pack the same positions into a real bitset
# inside an Arrow batch — bit-identical decisions either way.

BLOOM_B = 1 << 14            # bits
# K=2, not the textbook 4+: at the demo load factor (|bench shingles| ~
# 0.9/bit) extra hash rows cannot buy accuracy (optimal K = B/n·ln2 < 1)
# and each row costs one hash per PROBED shingle — the probe side is the
# corpus, so K is the multiplier on the expensive side.
BLOOM_K = 2                  # positions per key
# Universal-hash family for keys that are ALREADY uniform hashes (the
# shingle pipeline's md5-derived longs): production Blooms never re-md5
# a hashed long — position k is one multiply-add mod p mod B (the
# Kirsch–Mitzenmacher observation: independent cheap mixes of one good
# hash preserve the false-positive bound). Constants are md5-derived
# driver-side, not RNG state; the same exact-int arithmetic runs in
# DuckDB, so decisions stay bit-identical cross-engine. Keys must be
# non-negative longs; every caller probes 60-bit shingle hashes.
_BLOOM_P = 2_147_483_647     # 2^31 - 1


def _bloom_family(k: int) -> tuple[int, int]:
    import hashlib

    def h(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:15], 16)

    return ((h(f"BLA{k}") % (_BLOOM_P - 1)) + 1, h(f"BLB{k}") % _BLOOM_P)


def bloom_positions(col, k: int, bits: int = BLOOM_B):
    """Position k of an already-hashed NON-NEGATIVE long key in a
    ``bits``-bit set: one multiply-add mod p — no md5. The leading
    ``% p`` reduce keeps a·(col % p) < 2^62 for every non-negative int64
    key. A non-default ``bits`` (r13, ADVICE) is for key sets that scale
    with the data: the fixed BLOOM_B = 2^14 saturates once the keyed set
    outgrows ~m/K bits — at |keys| ≈ m the per-probe fill is
    1 − e^{−K·n/m} → 1 and the filter passes everything. Build and probe
    agree as long as both use the same ``bits``."""
    a, b = _bloom_family(k)
    return ((F.lit(a) * (col % F.lit(_BLOOM_P)) + F.lit(b))
            % F.lit(_BLOOM_P)) % F.lit(bits)


def bloom_bits_for(n_keys: int, *, floor_bits: int = BLOOM_B,
                   cap_bits: int = 1 << 24) -> int:
    """Bitset size for ``n_keys`` keys at K = BLOOM_K: the next power of
    two ≥ 8·n (K·n/m ≈ 0.25 → per-probe fill ≈ 0.22, FPR ≈ (0.22)^2 ≈
    5%), clamped to [BLOOM_B, 2^24]. The cap keeps the packed-words
    plan literal ≤ 2 MB — past it (>2M keys) the false-positive
    trickle grows smoothly but output stays exact (the verify join
    discards false positives), so the clamp degrades throughput, never
    correctness."""
    want = 8 * max(1, n_keys)
    bits = floor_bits
    while bits < want and bits < cap_bits:
        bits <<= 1
    return bits


def oracle_bloom_positions(key_sql: str, k: int) -> str:
    a, b = _bloom_family(k)
    return (f"((({a} * (({key_sql}) % {_BLOOM_P}) + {b}) % {_BLOOM_P})"
            f" % {BLOOM_B})")


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """(pos): the distinct set-bit table of the key set over BLOOM_B
    bits. Union-mergeable across shards by construction (distinct of a
    union)."""
    pos = F.array(*[bloom_positions(F.col(key_col), k)
                    for k in range(BLOOM_K)])
    return (keys.select(F.explode(pos).alias("pos")).distinct())


def bloom_hits(items: DataFrame, item_key: str,
               bloom: DataFrame) -> DataFrame:
    """Rows of ``items`` whose key tests POSITIVE (all K positions set):
    K successive broadcast LEFT SEMI joins, one per hash row — misses
    die map-side at the first unset position and NOTHING shuffles (the
    original explode + groupBy-count formulation paid a corpus-sized
    shuffle to reassemble the K probes). The production pre-filter shape
    for decontamination at 100 TB: the benchmark bitset is KBs against
    terabytes of candidates."""
    if "_pos" in items.columns:
        raise ValueError("bloom_hits: items must not carry a _pos column")
    out = items
    for k in range(BLOOM_K):
        out = (out.withColumn("_pos", bloom_positions(F.col(item_key), k))
               .join(F.broadcast(bloom.withColumnRenamed("pos", "_pos")),
                     "_pos", "leftsemi")
               .drop("_pos"))
    return out


def bloom_bitset_words(bloom: DataFrame, *, bits: int = BLOOM_B) -> list[int]:
    """Collect the set-bit table into bits/64 packed int64 words — the
    driver-side bitset artifact (2 KB at the default BLOOM_B). This is
    the \"real bitset inside a kernel\" the module note promises: the
    filter is FIXED-SIZE regardless of corpus scale, so collecting it is
    the production shape (same class as an IVF centroid model). ``bits``
    must match the ``bits`` the positions were built with
    (:func:`bloom_positions`)."""
    words = [0] * (bits // 64)
    for (p,) in bloom.collect():
        words[p >> 6] |= 1 << (p & 63)
    # keep every word inside signed int64 for the Spark literal
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _words_literal(words: list[int]):
    """``array<long>`` literal column for a packed bitset, built by
    PARSING one SQL string instead of ``F.lit(list)`` (r13 opt, guide
    §1/§4: measure the driver too): Py4J's list conversion makes
    ``F.lit`` cost ~1 ms per element — 1.7-5 s measured for the 2048
    words of an auto-sized 2^17-bit bloom, paid at PLAN BUILD time on
    every query invocation — while one ``F.expr("array(...L)")`` parse
    of the same values is ~7 ms at any size. Same Literal node in the
    plan either way."""
    return F.expr("array(" + ",".join(f"{int(w)}L" for w in words) + ")")


def bloom_filter_array(arr, words: list[int]):
    """Scan-local Bloom survivors of an ``array<long>`` key column: keeps
    the keys whose K positions are ALL set, as ONE higher-order filter
    over the array — no explode, no joins. The fused form of
    :func:`bloom_hits` for array-shaped probes (VERDICT r10 #2): clean
    keys die inside the scan projection, a document with zero survivors
    never produces a downstream row, and the K probes run in one pass
    instead of K broadcast semi-join passes each re-touching the
    exploded stream. The bitset rides the plan as one constant-folded
    256-long array literal; each probe is element_at + bit_get — O(1),
    unlike a substring probe into a character bitmap, which re-scans
    the 16 KB string per call. Two lessons are baked in: HOF lambdas
    are interpreted AND excluded from codegen CSE (module docstring of
    operators/dedup.py), so the per-element position hash must be
    CHEAP — the family is the multiply-add one for hashed longs; an
    md5-per-probe family measured 4-10x slower here. Each element is
    probed by :func:`bloom_filter_col`."""
    return F.filter(arr, lambda s: bloom_filter_col(s, words))


def bloom_pack_keys(keys: list[int], bits: int) -> list[int]:
    """Pack a collected key list straight into the bits/64 words bitset,
    driver-side (r13): one numpy multiply-add per hash row over the
    whole key vector — the same family arithmetic as
    :func:`bloom_positions` on the same non-negative 60-bit keys
    (a·(k % P) + b < 2^62 never overflows int64), so the words are
    bit-identical to building the position table in Spark and packing
    it (pinned in tests). Lets a caller that already collects the key
    set (decontaminate_two_tier sizes the bitset from it) skip the
    separate distinct-positions job. ``bits`` must be a positive
    multiple of 64: the probes read the size back as 64 · len(words)."""
    import numpy as np

    if bits <= 0 or bits % 64:
        raise ValueError(
            f"bloom_pack_keys: bits={bits} must be a positive multiple of 64")
    kv = np.asarray(keys, dtype=np.int64) % _BLOOM_P
    words = np.zeros(bits // 64, dtype=np.uint64)
    for k in range(BLOOM_K):
        a, b = _bloom_family(k)
        pos = ((a * kv + b) % _BLOOM_P) % bits
        np.bitwise_or.at(words, pos >> 6,
                         np.uint64(1) << (pos.astype(np.uint64)
                                          & np.uint64(63)))
    out = words.astype(np.int64, casting="unsafe")  # two's complement
    return [int(w) for w in out]


def bloom_filter_col(col, words: list[int]):
    """Boolean membership probe of a SCALAR long key column against the
    packed ``words`` bitset — the codegen form of the packed-bitset
    probe (r13): where :func:`bloom_filter_array` pays the interpreted-
    HOF tax per array element (the x53 adjudication measured that form
    2.5x slower), a scalar probe over an already-exploded stream is a
    plain expression tree — element_at + bit_get per hash row — that
    whole-stage codegen compiles, while the broadcast artifact stays
    O(bits) (the words literal), never O(keys) like the position-table
    semi joins. The bitset size is ``64 * len(words)``; the words ride
    the plan as ONE literal column, not a per-element F.array tree — at
    the auto-sized cap (2^24 bits = 262144 words) an element-wise Py4J
    expression tree would dwarf the plan while a single literal stays
    one serialized constant."""
    bw = _words_literal(words)
    bits = 64 * len(words)
    cond = None
    for k in range(BLOOM_K):
        pos = bloom_positions(col, k, bits)
        word = F.element_at(bw, F.shiftright(pos, 6).cast("int") + 1)
        hit = F.bit_get(word, pos.bitwiseAND(F.lit(63))) == 1
        cond = hit if cond is None else (cond & hit)
    return cond


# -- Mergeable quantile sketch (log2-octave bins, quartile sub-bins) ----
#
# The fourth sketch beside HLL (distincts), CMS (counts) and Bloom
# (membership): approximate quantiles with a FIXED footprint — at most
# 63 octaves x 8 sub-cells = 504 cells per stratum regardless of corpus
# size or value cardinality (x26/x57's exact histograms are bounded by
# DISTINCT VALUES, which telemetry-style longs can blow). Cells are
# (bit_length(v), top-3-bits(v)): exact for v<=7, at most 25% relative
# width above — so a quantile estimate's bin bounds the true value
# within +25%. Everything is integer bit arithmetic (length(bin(v)),
# shifts) — identical in Spark and DuckDB by construction; float log2's
# libm edge behavior never enters (the HLL lowbit-rank lesson).

QS_MAX_CELLS = 63 * 8


def _qs_cell():
    # Operates on the column aliased `_qs_v` by qsketch_build — no
    # parameter, so it can't silently mix two columns' bits into one
    # cell id (the sub-bin shift must be F.expr: the Python-API
    # shiftright only takes a LITERAL count).
    b = F.length(F.bin(F.col("_qs_v")))
    sub = F.expr(
        "shiftright(_qs_v, greatest(length(bin(_qs_v)) - 3, 0))")
    return (b * 8 + sub).alias("cell")


def qsketch_build(values: DataFrame, value_col: str, *,
                  strata_col: str = "lang") -> DataFrame:
    """Values (positive longs) → sketch (stratum, cell, n): one
    map-side-combined aggregate whose shuffle carries at most
    |strata|·504 rows. Non-positive values are excluded (a cell for
    them would break the monotone cell<->value order; count them
    separately if they matter)."""
    return (values
            .filter(F.col(value_col) >= 1)
            .select(F.col(strata_col).alias("stratum"),
                    F.col(value_col).cast("long").alias("_qs_v"))
            .select("stratum", _qs_cell())
            .groupBy("stratum", "cell")
            .agg(F.count(F.lit(1)).alias("n")))


def qsketch_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum: sketches from shards/days/engines combine
    associatively (shard≡whole pinned in tests)."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), sketches)
    return u.groupBy("stratum", "cell").agg(F.sum("n").alias("n"))


def qsketch_quantiles(sketch: DataFrame,
                      quantiles: list[tuple[str, int, int]],
                      ) -> DataFrame:
    """Per stratum, for each (name, num, den) quantile q=num/den: the
    LOWER BOUND of the first cell whose cumulative count reaches
    ceil(q·total) — true value in [lo, lo + 25%). Exact integer test
    (den·cum >= num·total, no float q); one window + one aggregate over
    the |strata|·<=504-row sketch — dimension-sized, never the corpus."""
    from pyspark.sql import Window as W

    lo = F.expr("cast(shiftleft(cell % 8, greatest(cast(cell div 8 "
                "as int) - 3, 0)) as long)")
    w = W.partitionBy("stratum").orderBy("cell")
    cum = (sketch
           .withColumn("lo", lo)
           .withColumn("cum", F.sum("n").over(w))
           .withColumn("total",
                       F.sum("n").over(W.partitionBy("stratum"))))
    aggs = [F.min(F.when(F.col("cum") * den >= F.col("total") * num,
                         F.col("lo"))).alias(name)
            for name, num, den in quantiles]
    return (cum.groupBy("stratum")
            .agg(F.max("total").alias("total"), *aggs))


def oracle_qsketch_sql(value_sql: str, strata_sql: str, src_sql: str,
                       quantiles: list[tuple[str, int, int]]) -> str:
    """The DuckDB twin: same cells, same exact-integer threshold."""
    qcols = ",\n           ".join(
        f"MIN(CASE WHEN cum * {den} >= total * {num} THEN lo END)"
        f" AS {name}" for name, num, den in quantiles)
    return f"""
    WITH qs_cells AS (
        SELECT {strata_sql} AS stratum,
               length(bin({value_sql})) * 8
               + ({value_sql} >> greatest(length(bin({value_sql})) - 3,
                                          0)) AS cell,
               COUNT(*) AS n
        FROM {src_sql} WHERE {value_sql} >= 1
        GROUP BY 1, 2
    ),
    qs_cum AS (
        SELECT stratum, cell,
               ((cell % 8) << greatest((cell // 8) - 3, 0)) AS lo,
               SUM(n) OVER (PARTITION BY stratum ORDER BY cell) AS cum,
               SUM(n) OVER (PARTITION BY stratum) AS total
        FROM qs_cells
    )
    SELECT stratum, CAST(MAX(total) AS BIGINT) AS total,
           {qcols}
    FROM qs_cum GROUP BY stratum"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch + pairwise Jaccard estimator
# ---------------------------------------------------------------------------
# The fifth mergeable sketch beside HLL/CMS/Bloom/quantile, and the SCALE
# path of x45's exact cross-source overlap matrix: where x45 ships every
# distinct (shingle, source) pair through a corpus-keyed exchange and its
# join fan-out grows with the overlap itself, the KMV sketch collapses
# each stratum to its k smallest distinct hash values (k=256 → ~1/sqrt(k)
# ≈ 6% standard error, Bar-Yossef et al. RANDOM'02 / Beyer et al.
# SIGMOD'07) and every pairwise estimate is then a dimension-sized
# computation over |strata|·k longs. Because "k smallest distinct md5
# values" is a deterministic set — no RNG, no engine-specific hashing —
# the DuckDB twin reproduces the sketch bit-for-bit, keeping the repo's
# exact-oracle contract even though the ESTIMATE is approximate.
#
# Exactness of the two-phase build (same pigeonhole as exact_stratified
# _sample): if v is among a stratum's k smallest distinct values, then
# within any subset containing v (a document's shingle set, an input
# partition's slice) fewer than k distinct values are smaller, so v
# survives every per-subset bottom-k cut. Per-doc capping, per-partition
# capping, and the final merge therefore lose nothing.

KMV_K = 256
_KMV_SPLIT = 64              # phase-1 residue fan-out (see kmv_sketch)


def _bottom_k(col, k: int):
    """Smallest ``k`` distinct values of an array column (scan-local)."""
    return F.slice(F.array_distinct(F.array_sort(col)), 1, k)


def kmv_sketch(items: DataFrame, *, key_col: str, strata_col: str,
               k: int = KMV_K) -> DataFrame:
    """(stratum, key) rows → one ``(stratum, sk array<long>)`` sketch row
    per stratum holding the k smallest DISTINCT key values.

    Scale shape: phase 1 groups by (stratum, input-partition,
    key-residue) — each group lives in exactly one map partition, so the
    partial aggregation completes map-side and the exchange ships one
    bottom-k array per group; phase 2 merges the survivors per stratum.
    No corpus-wide distinct exchange, no stratum-wide sort.

    The residue split (r12, ADVICE): the r11 form's collect_list held
    EVERY value of a (stratum, partition) group as one in-memory array
    before truncation — a per-task memory cliff when a partition is
    value-dense. Sub-grouping by ``_k % _KMV_SPLIT`` divides that state
    by the split factor: KMV's own validity requires the key stream to
    be uniformly hashed (it estimates from minimum VALUES), and the same
    uniformity balances the residue classes, so peak per-group state is
    ~n_partition_values / 64 with k-bounded exchange arrays.
    Output-identical by the pigeonhole argument above (any partition of
    a group into subsets preserves bottom-k; pinned by the hypothesis
    suite, which feeds adversarially NON-uniform keys — correctness
    never depends on balance). The remaining upgrade path if even the
    split state ever dominates is a custom TypedImperativeAggregate
    holding a k-bounded heap.

    Phase-2 state (r13, ADVICE): the r12 two-phase form moved the
    cliff, it didn't remove it — the terminal per-stratum collect_list
    gathered n_partitions·SPLIT·k values in ONE task. An intermediate
    merge keyed by (stratum, residue) now caps the stages at
    n_partitions·k (phase 2a) and SPLIT·k (phase 2b) values per task —
    both k-bounded in the corpus, neither multiplying the other. Same
    pigeonhole, same output; the hypothesis suite pins it.
    """
    tagged = items.select(F.col(strata_col).alias("stratum"),
                          F.spark_partition_id().alias("_pid"),
                          F.col(key_col).alias("_k"))
    phase1 = (tagged
              .withColumn("_res", F.pmod(F.col("_k"), F.lit(_KMV_SPLIT)))
              .groupBy("stratum", "_pid", "_res")
              .agg(_bottom_k(F.collect_list("_k"), k).alias("_cand")))
    phase2a = (phase1.select("stratum", "_res",
                             F.explode("_cand").alias("_k"))
               .groupBy("stratum", "_res")
               .agg(_bottom_k(F.collect_list("_k"), k).alias("_cand")))
    return (phase2a.select("stratum", F.explode("_cand").alias("_k"))
            .groupBy("stratum")
            .agg(_bottom_k(F.collect_list("_k"), k).alias("sk")))


def kmv_merge(*sketches: DataFrame, k: int = KMV_K) -> DataFrame:
    """Merge sketch tables (same stratum → bottom-k of the union) — the
    mergeable-summary contract: shard/day/engine sketches combine
    associatively (pinned in tests against the whole-corpus build)."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return (u.select("stratum", F.explode("sk").alias("_k"))
            .groupBy("stratum")
            .agg(_bottom_k(F.collect_list("_k"), k).alias("sk")))


def kmv_jaccard(sketch: DataFrame, *, k: int = KMV_K) -> DataFrame:
    """Pairwise Jaccard estimates from a ``(stratum, sk)`` sketch table:
    for each stratum pair (a < b), rank the union of the two sketches'
    values ascending, keep the k smallest (k_eff = min(k, |union|)), and
    estimate J(A, B) = |{v in bottom-k(union): v in both sketches}| /
    k_eff — the standard KMV set-operation estimator. Everything here is
    dimension-sized (|strata|² · k); exact integer counts with ONE
    terminal division (the cross-engine float contract).

    Returns (stratum_a, stratum_b, k_eff, n_both, jaccard_est).

    NOT persisted despite four references to ``sketch`` (r13 opt
    adjudication): the estimator's plan text inlines the sketch
    pipeline into every reference, but AQE's runtime stage reuse
    collapses the identical canonical exchanges — a build+exec
    interleaved A/B at sf0.1 read no-persist 2.00-2.17 s vs
    eager-persist 2.27-2.45 s (the persist's materialization job and
    cache write cost more than the reuse saves at any input size,
    since the sketch is KB-scale by contract).
    """
    from pyspark.sql import Window as W

    pairs = (sketch.agg(F.array_sort(F.collect_list("stratum"))
                        .alias("arr"))
             .select(F.explode(F.expr(
                 "flatten(transform(arr, (x, i) -> "
                 "transform(slice(arr, i + 2, size(arr)), "
                 "y -> struct(x AS stratum_a, y AS stratum_b))))"))
                 .alias("p"))
             .select("p.stratum_a", "p.stratum_b"))
    vals = sketch.select(F.col("stratum").alias("_src"),
                         F.explode("sk").alias("_v"))
    e = (F.broadcast(pairs).join(vals, F.col("_src") == F.col("stratum_a"))
         .select("stratum_a", "stratum_b", "_v")
         .unionByName(
             F.broadcast(pairs)
             .join(vals, F.col("_src") == F.col("stratum_b"))
             .select("stratum_a", "stratum_b", "_v")))
    g = (e.groupBy("stratum_a", "stratum_b", "_v")
         .agg(F.count(F.lit(1)).alias("_cnt")))
    w = W.partitionBy("stratum_a", "stratum_b").orderBy("_v")
    r = (g.select("stratum_a", "stratum_b",
                  (F.col("_cnt") == 2).cast("long").alias("_in_both"),
                  F.row_number().over(w).alias("_rk"))
         .filter(F.col("_rk") <= k))
    return (r.groupBy("stratum_a", "stratum_b")
            .agg(F.count(F.lit(1)).alias("k_eff"),
                 F.sum("_in_both").alias("n_both"))
            .select("stratum_a", "stratum_b", "k_eff", "n_both",
                    (F.col("n_both").cast("double")
                     / F.col("k_eff").cast("double")).alias("jaccard_est")))


def oracle_kmv_ctes(key_sql: str, strata_sql: str, src_sql: str,
                    k: int = KMV_K) -> str:
    """DuckDB twin CTEs ending in ``kmv_sk(stratum, s)`` — the sketch as
    rows (the oracle runs single-node; a plain ranked window over the
    distinct values selects the identical set the two-phase build does).
    """
    return f"""
    kmv_distinct AS (
        SELECT DISTINCT {strata_sql} AS stratum, {key_sql} AS s
        FROM {src_sql}
    ),
    kmv_sk AS (
        SELECT stratum, s FROM (
            SELECT stratum, s,
                   row_number() OVER (PARTITION BY stratum ORDER BY s) AS r
            FROM kmv_distinct
        ) WHERE r <= {k}
    )"""
