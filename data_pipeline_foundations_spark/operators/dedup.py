"""Near-duplicate detection operators: MinHash+LSH, SimHash, n-gram Jaccard.

Scale-first design (the 100 TB story):
  - **Signatures are scan-local.** Shingle/token hashing happens per row
    with array higher-order functions — no explode, no shuffle for the
    signature itself. A 100 TB corpus streams through the scan once.
  - **Each expensive expression is computed exactly once.** Spark's
    codegen subexpression elimination SKIPS higher-order functions, so a
    lambda-bearing expression that appears k times in one projection runs
    k times. Every operator here therefore stages its pipeline as chained
    projections (``withColumn``) where each HOF result is a named column;
    CollapseProject keeps the stages separate because the producing
    expressions are non-cheap and referenced more than once.
  - **Shingles are 31-bit integers, not strings.** One md5 per token,
    then shingle hashes are a rolling polynomial over the token-hash
    array — O(n·T) arithmetic per document instead of O(T²) string
    building, and downstream shuffles move longs, not text.
  - **Candidate generation is banded.** Only tiny (doc_id, key)
    projections shuffle; the O(n²) pair space is never materialized —
    pairs come from equi-joins on band buckets (LSH) / rare shingles
    (inverted index with frequency cap), the standard blocked designs.
  - **Everything is deterministic integers** (md5-derived, see
    functions.hashing), so the DuckDB oracle reproduces results
    bit-for-bit.

Cited reference scope: the reference repo has no dedup operators; these are
the BASELINE.json north-star extensions (SURVEY.md §7.2 slice 7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (HASHERS, HASHERS_SQL, md5_long,
                                 oracle_md5_long)
from ..functions.sql import sql_ident
from ..functions.text import tokens
from ..tables import scale_out
from .caching import tracked_persist

# MinHash family size and LSH banding: K = BANDS * ROWS_PER_BAND.
MINHASH_K = 8
LSH_BANDS = 4
ROWS_PER_BAND = 2
# Universal-hash family over a 31-bit Mersenne prime: each token is
# md5-hashed ONCE (the expensive part); everything downstream is modular
# arithmetic on bigints — products stay under 2^62, so the same math is
# exact in both engines. Constants are md5-derived (driver-side,
# deterministic), not RNG state.
HASH_P = 2_147_483_647  # 2^31 - 1
# Rolling-polynomial base for combining token hashes into shingle hashes.
SHINGLE_C = 1_000_003
# SimHash signature width. 64 is the REGISTERED default (r11): with
# band_bits=8 it yields 8 bands >= max_hamming + 2, so the pigeonhole
# band-combination index (see simhash_pairs) engages automatically and
# the banding keyspace is 2^16 instead of 2^8 — the 32-bit/4-band form
# saturates by the measured tables*n^2/keyspace law (~195G join rows at
# 5M docs, SCALING.md r10 part 5) while the 64-bit form runs the same
# corpus in ~138 s. Token hashes are 60-bit (functions.hashing), so
# signature bits >= SIMHASH_HASH_BITS are structurally zero: both
# engines skip computing them, hamming distances are unaffected, and
# the top band simply carries 4 informative bits instead of 8.
SIMHASH_BITS = 64
SIMHASH_HASH_BITS = 60  # md5_long width; simhash bits above this are 0
# Inverted-index blocking: shingles appearing in more docs than this are
# too common to be discriminative — skip them for candidate generation
# (intersections still count them).
MAX_SHINGLE_DF = 20


def _hash_family(k: int) -> list[tuple[int, int]]:
    import hashlib

    def h(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:15], 16)

    return [((h(f"A{i}") % (HASH_P - 1)) + 1, h(f"B{i}") % HASH_P)
            for i in range(k)]


# ---------------------------------------------------------------------------
# Hashed shingles (shared by MinHash and exact-Jaccard)
# ---------------------------------------------------------------------------
def with_shingle_hashes(df: DataFrame, text_col: str, n: int = 3,
                        out: str = "sh", hasher: str = "md5") -> DataFrame:
    """Add ``out``: array<long> of word-n-gram shingle hashes (mod HASH_P).

    Stage 1 computes the token-hash array once ( _th ); stage 2 folds a
    rolling polynomial over it with zip_with — shifted slices of _th are
    column references, so tokenization/hashing never re-runs per shingle.

    The whole tree is assembled as ONE ``F.expr`` parse (r13 opt): the
    lambda-per-HOF Python form cost ~12 Py4J lambda registrations
    (~0.17 s of driver time) per call, paid by every shingle-family
    query on every invocation; parsing the identical SQL is one round
    trip (~10 ms). Same analyzed expressions, same plan.
    """
    h = HASHERS_SQL[hasher]
    # The column name is interpolated into a SQL string, so it is quoted:
    # names with spaces, dots or reserved words stay one identifier, and
    # caller-controlled names cannot inject SQL.
    q = sql_ident(text_col)
    th = f"transform(split({q}, ' '), t -> {h('t')} % {HASH_P})"
    d = df.withColumn("_th", F.expr(th))
    acc = "_th"
    for j in range(1, n):
        acc = (f"zip_with({acc}, slice(_th, {j + 1}, size(_th)), "
               f"(x, y) -> (x * {SHINGLE_C} + y) % {HASH_P})")
    # zip_with pads the shorter side with null → the last n-1 positions
    # are null; drop them to get exactly T-n+1 shingles.
    return (d.withColumn(out, F.expr(f"filter({acc}, x -> x IS NOT NULL)"))
            .drop("_th"))


def oracle_shingle_hashes(sql_col: str, n: int = 3) -> tuple[str, str]:
    """(th_expr, sh_expr_over_th): DuckDB twins of with_shingle_hashes.

    ``sh_expr_over_th`` assumes a CTE column named ``th`` exists.
    """
    th = (f"list_transform(string_split({sql_col}, ' '), "
          f"t -> {oracle_md5_long('t')} % {HASH_P})")
    e = "th[i]"
    for j in range(1, n):
        e = f"(({e}) * {SHINGLE_C} + th[i + {j}]) % {HASH_P}"
    sh = (f"list_transform(range(1, greatest(len(th) - {n - 1}, 0) + 1), "
          f"i -> {e})")
    return th, sh


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def with_minhash(df: DataFrame, text_col: str, n: int = 3,
                 k: int = MINHASH_K, hasher: str = "md5") -> DataFrame:
    """Add mh0..mh{k-1}: the k-member MinHash signature of the shingle set.

    One md5 per token; each family member is an O(T) arithmetic pass over
    the staged shingle-hash column.
    """
    d = with_shingle_hashes(df, text_col, n, out="_sh", hasher=hasher)

    def family(a: int, b: int):
        # arity-1 closure: pyspark treats 2-arg lambdas as (element, index)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_P)

    return d.select(
        "*",
        *[F.array_min(F.transform(F.col("_sh"), family(a, b))).alias(f"mh{i}")
          for i, (a, b) in enumerate(_hash_family(k))],
    ).drop("_sh")


def _oracle_minhash_ctes(sql_col: str = "text", n: int = 3,
                         k: int = MINHASH_K) -> str:
    """CTE chain ``pre``→``shc``→``sig`` producing doc_id, mh0..mh{k-1}."""
    th, sh = oracle_shingle_hashes(sql_col, n)
    mh = ",\n               ".join(
        f"list_min(list_transform(sh, h -> ({a} * h + {b}) % {HASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(_hash_family(k))
    )
    return f"""
    pre AS (
        SELECT doc_id, {th} AS th
        FROM documents
        WHERE len(string_split({sql_col}, ' ')) >= {n}
    ), shc AS (
        SELECT doc_id, {sh} AS sh FROM pre
    ), sig AS (
        SELECT doc_id,
               {mh}
        FROM shc
    )"""


def minhash_lsh_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      k: int = MINHASH_K, bands: int = LSH_BANDS,
                      threshold: float = 0.5,
                      hasher: str = "md5",
                      arrow: bool = True) -> DataFrame:
    """Near-dup candidate pairs via LSH banding + MinHash similarity estimate.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b and
    est_jaccard = (#equal minhashes)/k >= threshold. Docs with fewer than
    n tokens have no shingles and are excluded (their signature is null).

    ``arrow=True`` (default, md5 hasher only): signatures come from one
    kernel call per document (vectorized.minhash_sig_udf, per-batch
    token-hash memoization — bit-identical to the HOF pipeline, pinned
    by tests/test_vectorized), ride the banding self-join as a single
    array column, and the similarity estimate is computed INLINE on the
    candidate pairs (a zip_with equality fold over two 8-long arrays —
    interpreted, but candidates are the post-banding survivors, orders
    of magnitude fewer than documents). The two signature verification
    joins of the SQL formulation disappear, the self-join's two sides
    still share one canonicalized plan (the kernel runs once, its
    exchange is reused), and the whole operator is ONE lazy plan — no
    eager persist job. The ``hasher="xx"`` production family keeps the
    JVM path (xxhash64 is JVM-native and already cheap).

    SQL path: the band self-join's two sides share one canonicalized
    plan, so Spark reuses the exchange (the signature scan runs once for
    banding); the verification join re-derives signatures from the same
    staged scan.
    """
    r = k // bands
    filtered = scale_out(docs).filter(F.size(tokens(text_col)) >= n)
    if arrow and hasher == "md5":
        from .vectorized import minhash_sig_udf
        sig_udf = minhash_sig_udf(_hash_family(k), n, HASH_P, SHINGLE_C)
        d = filtered.withColumn("_mh", sig_udf(F.col(text_col)))
        band_structs = [
            F.struct(
                F.lit(j).alias("band_id"),
                F.concat_ws("|", *[F.col("_mh")[j * r + i].cast("string")
                                   for i in range(r)]).alias("band_key"))
            for j in range(bands)
        ]
        bands_df = (d.select(F.col(id_col), "_mh",
                             F.explode(F.array(*band_structs)).alias("b"))
                    .select(id_col, "_mh", "b.band_id", "b.band_key"))
        x, y = bands_df.alias("x"), bands_df.alias("y")
        matches = F.aggregate(
            F.zip_with(F.col("x._mh"), F.col("y._mh"),
                       lambda a, b: (a == b).cast("long")),
            F.lit(0).cast("long"), lambda acc, v: acc + v)
        return (x.join(y, ["band_id", "band_key"])
                .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
                .select(F.col(f"x.{id_col}").alias("doc_a"),
                        F.col(f"y.{id_col}").alias("doc_b"),
                        (matches / F.lit(float(k))).alias("est_jaccard"))
                .filter(F.col("est_jaccard") >= threshold)
                .distinct())
    # Persist the signature table: (id, k longs) per doc, consumed by the
    # banding self-join AND both verification sides. (Persisting is safe
    # and cheap now that the signature expression is staged — caching a
    # plan with duplicated HOFs would evaluate them per duplicate in the
    # interpreted cache-build path.)
    sig = tracked_persist(
        with_minhash(filtered, text_col, n, k, hasher=hasher)
        .select(id_col, *[f"mh{i}" for i in range(k)])
    )
    band_structs = [
        F.struct(
            F.lit(j).alias("band_id"),
            F.concat_ws("|", *[F.col(f"mh{j * r + i}") for i in range(r)]).alias("band_key"),
        )
        for j in range(bands)
    ]
    bands_df = (
        sig.select(id_col, F.explode(F.array(*band_structs)).alias("b"))
        .select(id_col, "b.band_id", "b.band_key")
    )
    x, y = bands_df.alias("x"), bands_df.alias("y")
    pairs = (
        x.join(y, ["band_id", "band_key"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("doc_a"), F.col(f"y.{id_col}").alias("doc_b"))
        .distinct()
    )
    a = sig.select(F.col(id_col).alias("doc_a"),
                   *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)])
    b = sig.select(F.col(id_col).alias("doc_b"),
                   *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)])
    matches = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
                  for i in range(k))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", (matches / F.lit(float(k))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def oracle_minhash_lsh_sql(*, n: int = 3, k: int = MINHASH_K,
                           bands: int = LSH_BANDS,
                           threshold: float = 0.5) -> str:
    r = k // bands
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {j} AS band_id, "
        + " || '|' || ".join(f"CAST(mh{j * r + i} AS VARCHAR)" for i in range(r))
        + " AS band_key FROM sig"
        for j in range(bands)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(k))
    return f"""
    WITH {_oracle_minhash_ctes('text', n, k)}
    , bands AS (
        {band_selects}
    ), pairs AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y USING (band_id, band_key)
        WHERE x.doc_id < y.doc_id
    )
    SELECT p.doc_a, p.doc_b, ({eq_sum}) / {float(k)} AS est_jaccard
    FROM pairs p
    JOIN sig a ON a.doc_id = p.doc_a
    JOIN sig b ON b.doc_id = p.doc_b
    WHERE ({eq_sum}) / {float(k)} >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def with_simhash(df: DataFrame, text_col: str, bits: int = SIMHASH_BITS,
                 out: str = "simhash", hasher: str = "md5") -> DataFrame:
    """Add ``out``: token-multiset SimHash — bit b is 1 when the majority
    of token hashes have bit b set.

    Token hashes are staged once ( _hs ); per-bit counts are ONE aggregate
    pass producing an array (not 32 separate filters over 32 re-hashed
    copies — HOFs are excluded from codegen CSE, see module docstring).

    Bits at or above SIMHASH_HASH_BITS are structurally zero (the token
    hash is 60-bit), so only min(bits, 60) counters are computed — the
    64-bit signature costs the same aggregate as a 60-bit one.
    """
    h = HASHERS_SQL[hasher]
    eff = min(bits, SIMHASH_HASH_BITS)
    # ONE F.expr parse for the token-hash stage (r14, the shingle-tree
    # template): the lambda-HOF form cost a Py4J lambda registration per
    # call; identifier quoted like with_shingle_hashes. sameResult pin
    # vs the lambda form in tests/test_r14_optimizations.py.
    q = sql_ident(text_col)
    d = df.withColumn(
        "_hs", F.expr(f"transform(split({q}, ' '), t -> {h('t')})"))
    d = d.withColumn("_cnt", F.expr(
        f"aggregate(_hs, array_repeat(CAST(0 AS BIGINT), {eff}), "
        f"(acc, h) -> transform(acc, (c, i) -> c + (shiftright(h, i) & CAST(1 AS BIGINT))))"
    ))
    # coalesce → non-nullable output. This matters for PLAN quality, not
    # just null text: a nullable simhash fed into an equi-join key makes
    # Catalyst infer isnotnull(<whole aggregate>) and push it below the
    # repartition to the scan — re-evaluating the signature single-threaded
    # as a filter. Non-nullable ⇒ no inferred filter. (DuckDB's oracle
    # yields 0 for null text too, so parity is unchanged.)
    return d.withColumn(out, F.coalesce(F.expr(
        "aggregate(transform(_cnt, (c, b) -> IF(2 * c > size(_hs), "
        "shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (x, y) -> x + y)"
    ), F.lit(0).cast("long"))).drop("_hs", "_cnt")


def oracle_simhash_expr(sql_col: str, bits: int = SIMHASH_BITS) -> str:
    # bits >= SIMHASH_HASH_BITS are structurally zero (60-bit token
    # hashes) — skip their terms, mirroring with_simhash exactly.
    toks = f"string_split({sql_col}, ' ')"
    hashes = f"list_transform({toks}, t -> {oracle_md5_long('t')})"
    terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter({hashes}, h -> (h >> {b}) & 1 = 1)) "
        f"> len({toks}) THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        for b in range(min(bits, SIMHASH_HASH_BITS))
    )
    return f"({terms})"


def simhash_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = SIMHASH_BITS,
                  band_bits: int = 8, max_hamming: int = 6,
                  band_combo: int | None = None,
                  hasher: str = "md5") -> DataFrame:
    """Near-dup pairs by SimHash banding: docs sharing a band key are
    candidates; keep pairs with hamming distance <= max_hamming.

    ``band_combo`` (r10): index CONCATENATIONS of that many bands
    instead of single bands — C(nbands, combo) tables with
    combo·band_bits-wide keys. The r10 1000× probe killed the
    single-band form at 5M docs: an 8-bit band key has 256 buckets, so
    candidate volume follows tables·n²/keyspace ≈ n²/256·8 — ~390G
    join rows at 5M docs (the banding saturates once n >> keyspace).
    Pigeonhole makes the 2-combo OUTPUT-IDENTICAL, not merely similar:
    hamming <= max_hamming flips at most max_hamming bands, so
    nbands - max_hamming bands are clean; with nbands >= max_hamming+2
    some clean PAIR of bands exists and the pair's concatenated key
    matches — every hamming <= max_hamming pair stays a candidate
    under both schemes, extra candidates differ but die in the exact
    hamming filter, and both outputs equal "all pairs with hamming <=
    max_hamming" (pinned). The 16-bit keyspace cuts candidates 75× at
    5M docs; the law is still n²/keyspace — for corpora where even
    that saturates (~20-30M docs), the measured escape is DEEPER combos
    (band_combo=3 with band_bits=7: 2^21 keyspace, 32x candidate cut —
    see simhash_pairs_sorted's docstring and SCALING.md r11 part 5 for
    why Manku's sorted-scan form itself loses to this join at exactly
    the volumes where a next tier matters). Default: auto — combo 2
    whenever the guarantee holds (nbands >= max_hamming + 2), else
    single-band."""
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    if band_combo is None:
        band_combo = 2 if nbands >= max_hamming + 2 else 1
    if band_combo > 1 and nbands < max_hamming + band_combo:
        raise ValueError(
            f"simhash_pairs: band_combo={band_combo} breaks the recall "
            f"guarantee at max_hamming={max_hamming} with {nbands} bands "
            f"(needs nbands >= max_hamming + combo)")
    # TWO consumers (both sides of the self-join): without the persist the
    # signature pipeline (per-token md5 + per-bit aggregate — the dominant
    # cost) executes twice. The cached form is tiny: (id, int64).
    sig = tracked_persist(with_simhash(scale_out(docs), text_col, bits, out="sh",
                                       hasher=hasher)
                          .select(id_col, "sh"))
    qid = sql_ident(id_col)
    arr = _simhash_band_structs_sql(band_bits, mask, band_combo, nbands)
    bands_df = (sig.selectExpr(qid, "sh", f"explode({arr}) AS b")
                .selectExpr(qid, "sh", "b.band_id", "b.band_key"))
    x, y = bands_df.alias("x"), bands_df.alias("y")
    return (
        x.join(y, ["band_id", "band_key"])
        .filter(f"x.{qid} < y.{qid}")
        .selectExpr(f"x.{qid} AS doc_a", f"y.{qid} AS doc_b",
                    "bit_count(x.sh ^ y.sh) AS hamming")
        # hamming filter BEFORE distinct: the filter is a cheap map-side
        # row predicate, distinct is a full shuffle — dropping far pairs
        # first means only the (rare) near-dup candidates get shuffled.
        .filter(f"hamming <= {max_hamming}")
        .distinct()
    )


def _simhash_band_structs_sql(band_bits: int, mask: int, band_combo: int,
                              nbands: int) -> str:
    """The (band_id, band_key) struct ARRAY shared by the bucket-join and
    sorted-table forms — single bands or combo-concatenated keys — as one
    SQL string over the ``sh`` signature column (r14 one-parse form; the
    Column list cost ~10 Py4J round trips per struct × C(nbands, combo)
    structs per invocation). sameResult pin vs the Column form in
    tests/test_r14_optimizations.py."""
    from itertools import combinations

    keys = [f"(shiftright(sh, {j * band_bits}) & {mask})"
            for j in range(nbands)]
    if band_combo == 1:
        structs = [f"struct({j} AS band_id, {keys[j]} AS band_key)"
                   for j in range(nbands)]
    else:
        structs = []
        for c, idxs in enumerate(combinations(range(nbands), band_combo)):
            key = keys[idxs[0]]
            for i in idxs[1:]:
                key = f"({key} * {mask + 1} + {keys[i]})"
            structs.append(f"struct({c} AS band_id, {key} AS band_key)")
    return "array(" + ", ".join(structs) + ")"


def simhash_pairs_sorted(docs: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text", bits: int = SIMHASH_BITS,
                         band_bits: int = 8, max_hamming: int = 6,
                         band_combo: int | None = None,
                         hasher: str = "md5") -> DataFrame:
    """Manku et al. (WWW'07 "Detecting near-duplicates for web
    crawling") sorted-permuted-fingerprint-table form of
    :func:`simhash_pairs` — OUTPUT-IDENTICAL by the same pigeonhole
    argument (each band combination plays the role of one block
    permutation's leading bits; a hamming <= h pair has some clean
    combination whenever nbands >= h + combo).

    Where the bucket-join form shuffles the (id, key) projection TWICE
    (both self-join sides) and generates candidates inside the join,
    this form shuffles it ONCE — groupBy(band_id, band_key) with
    collect_list — and generates each key-run's pairs scan-local with
    one higher-order transform over the sorted run (Spark's shuffled
    sort IS Manku's table sort; a run of equal leading bits is exactly
    his probe range). The trade, measured in SCALING.md r11: pair
    generation inside a HOF is interpreted (~0.1-1 us/candidate) while
    join-side candidate generation is whole-stage-codegen'd — so the
    sorted form wins only when the keyspace keeps runs SMALL (high
    combo) and loses when candidates dominate; it exists to settle the
    \">50M docs\" tier question with numbers rather than as the default.
    """
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    if band_combo is None:
        band_combo = 2 if nbands >= max_hamming + 2 else 1
    if band_combo > 1 and nbands < max_hamming + band_combo:
        raise ValueError(
            f"simhash_pairs_sorted: band_combo={band_combo} breaks the "
            f"recall guarantee at max_hamming={max_hamming} with "
            f"{nbands} bands (needs nbands >= max_hamming + combo)")
    sig = (with_simhash(scale_out(docs), text_col, bits, out="sh",
                        hasher=hasher).select(id_col, "sh"))
    qid = sql_ident(id_col)
    arr = _simhash_band_structs_sql(band_bits, mask, band_combo, nbands)
    bands_df = (sig.selectExpr(qid, "sh", f"explode({arr}) AS b")
                .selectExpr(f"{qid} AS i", "sh",
                            "b.band_id", "b.band_key"))
    runs = (bands_df.groupBy("band_id", "band_key")
            .agg(F.sort_array(F.collect_list(F.struct("i", "sh")))
                 .alias("g"))
            .filter(F.size("g") >= 2))
    # all i<j pairs of a run, scan-local: element k pairs with the
    # k+1.. tail (the array is sorted by id, so doc_a < doc_b holds by
    # construction); far pairs die on the hamming predicate inside the
    # same HOF before anything is emitted
    pair_arr = F.flatten(F.transform(
        F.col("g"),
        lambda x, k: F.filter(
            F.transform(
                F.slice(F.col("g"), k + F.lit(2),
                        F.greatest(F.size("g") - k - 1, F.lit(0))),
                lambda y: F.struct(
                    x["i"].alias("doc_a"), y["i"].alias("doc_b"),
                    F.bit_count(x["sh"].bitwiseXOR(y["sh"]))
                    .alias("hamming"))),
            lambda p: p["hamming"] <= F.lit(max_hamming))))
    return (runs.select(F.explode(pair_arr).alias("p"))
            .select("p.doc_a", "p.doc_b", "p.hamming")
            .distinct())


def oracle_simhash_pairs_sql(*, bits: int = SIMHASH_BITS, band_bits: int = 8,
                             max_hamming: int = 6) -> str:
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    sh = oracle_simhash_expr("text", bits)
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, sh, {j} AS band_id, (sh >> {j * band_bits}) & {mask} AS band_key FROM sig"
        for j in range(nbands)
    )
    return f"""
    WITH sig AS (
        SELECT doc_id, {sh} AS sh FROM documents
    ), bands AS (
        {band_selects}
    )
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
    FROM bands x JOIN bands y USING (band_id, band_key)
    WHERE x.doc_id < y.doc_id AND bit_count(xor(x.sh, y.sh)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard over an inverted index
# ---------------------------------------------------------------------------
def _rare_candidate_payload(docs: DataFrame, id_col: str, text_col: str,
                            n: int, max_df: int, hasher: str):
    """(cand, a, b): blocked candidate pairs annotated with their shared
    RARE-shingle count, plus per-doc payloads (total shingle count + the
    COMMON-stratum shingle array) for exact intersection verification —
    the machinery shared by the Jaccard and containment operators (see
    ngram_jaccard_pairs for the scale contract)."""
    from pyspark.sql import Window as W

    # Shingle document frequencies split the index into a RARE stratum
    # (df <= max_df — discriminative, used for blocking) and a COMMON one
    # (boilerplate — excluded from blocking but still part of the true
    # intersection). df comes from ONE window count over the s-shuffle —
    # no aggregate + join-back — and the index is then FILTERED to
    # df >= 2 before the persist: a df=1 shingle can never produce a
    # candidate pair, never lands in a common array, and any document
    # that can appear in a candidate shares a df>=2 shingle by
    # definition — yet the unique tail dominates the raw index (most
    # shingles occur once). The r10 1000× probe caught the unfiltered
    # form super-linear (17×/decade at 500M index rows against a 24 GB
    # heap): the persist spilled and every consumer — both self-join
    # sides and the per-doc rollup — re-read the spilled 500M rows.
    # After the filter only the duplicated stratum is persisted,
    # self-joined, and rolled up; the unique tail exists solely inside
    # the one window sort that computes df. n_sh (the per-doc TOTAL
    # distinct-shingle count, df=1 included) is attached scan-local
    # BEFORE the explode and rides the window shuffle as one extra int,
    # so the rollup still sees exact sizes without a second corpus scan.
    inv_df = tracked_persist(
        with_shingle_hashes(scale_out(docs), text_col, n, out="_sh", hasher=hasher)
        .withColumn("_shd", F.array_distinct("_sh"))
        .withColumn("n_sh", F.size("_shd").cast("long"))
        .select(F.col(id_col), "n_sh", F.explode_outer("_shd").alias("s"))
        .filter(F.col("s").isNotNull())
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s")))
        .filter(F.col("df") >= 2)
    )
    rare_inv = inv_df.filter(F.col("df") <= max_df).select("s", id_col)
    # Candidate generation AND the rare-intersection count in ONE
    # aggregation: each shared rare shingle contributes a join row, so
    # groupBy(pair).count() == |rare(a) ∩ rare(b)| — same shuffle the old
    # .distinct() paid, but the work it does replaces the expensive part
    # of verification.
    x, y = rare_inv.alias("x"), rare_inv.alias("y")
    cand = (
        x.join(y, "s")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("doc_a"), F.col(f"y.{id_col}").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_rare"))
    )
    # Per-doc payload for verification: total shingle count + the COMMON
    # shingles only. shared = shared_rare + |common(a) ∩ common(b)| is
    # the exact all-shingles intersection, but the arrays that join and
    # intersect here are bounded by the common vocabulary (boilerplate
    # n-grams — typically tens), NOT document length: at corpus scale the
    # verification payload no longer moves ~|doc| longs per candidate,
    # and the old 1M-candidate array_intersect over full shingle arrays
    # (the measured top cost of this operator) shrinks by ~df-tail/doc
    # -length ratio. Result values are identical (oracle unchanged).
    sets = (inv_df.groupBy(id_col)
            .agg(F.first("n_sh").alias("n_sh"),
                 F.array_sort(F.collect_list(
                     F.when(F.col("df") > max_df, F.col("s")))).alias("common")))
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("common").alias("a_arr"),
                    F.col("n_sh").alias("n_a"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("common").alias("b_arr"),
                    F.col("n_sh").alias("n_b"))
    return cand, a, b


def ngram_jaccard_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        max_df: int = MAX_SHINGLE_DF,
                        threshold: float = 0.2,
                        hasher: str = "md5") -> DataFrame:
    """Exact Jaccard over n-gram shingle *sets* for candidate pairs that
    share at least one rare shingle (document frequency <= max_df).

    Scale contract (the part that survives a skewed 100 TB corpus):

      1. **Candidate generation touches rare shingles only.** The
         inverted index is restricted to shingles with df <= max_df
         BEFORE the self-join, so the join's blow-up is bounded by
         max_df * |index| — linear in corpus size. A boilerplate shingle
         in 10^6 docs contributes zero join rows.
      2. **The expensive verification work IS the candidate join.**
         groupBy(pair).count() over the rare self-join yields
         |rare(a) ∩ rare(b)| in the same shuffle the old distinct paid,
         and only the BOUNDED common-stratum arrays (boilerplate
         vocabulary, typically tens) are intersected per pair — the
         exact all-shingles intersection at a payload that no longer
         scales with document length.

    Shuffles move 31-bit shingle hashes and doc ids (longs), never text.
    """
    cand, a, b = _rare_candidate_payload(docs, id_col, text_col, n,
                                         max_df, hasher)
    # Threshold rewritten to reference `shared` ONCE — jaccard >= t is
    # equivalent to shared * (1+t) >= t * (n_a + n_b) — so when Catalyst
    # pushes the filter into the join condition, array_intersect is
    # evaluated once per candidate, not twice.
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("shared",
                    (F.col("shared_rare")
                     + F.size(F.array_intersect("a_arr", "b_arr"))).cast("long"))
        .filter(F.col("shared") * F.lit(1.0 + threshold)
                >= F.lit(threshold) * (F.col("n_a") + F.col("n_b")))
        .select(
            "doc_a", "doc_b", "shared",
            (F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"))
            .alias("jaccard"),
        )
    )


def oracle_ngram_jaccard_sql(*, n: int = 3, max_df: int = MAX_SHINGLE_DF,
                             threshold: float = 0.2) -> str:
    th, sh_expr = oracle_shingle_hashes("text", n)
    return f"""
    WITH pre AS (
        SELECT doc_id, {th} AS th FROM documents
    ), shc AS (
        SELECT doc_id, {sh_expr} AS sh FROM pre
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shc
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), rare AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {max_df}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b USING (s) JOIN rare USING (s)
        WHERE a.doc_id < b.doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b, i.shared,
           i.shared / CAST(na.n_sh + nb.n_sh - i.shared AS DOUBLE) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes na ON na.doc_id = c.doc_a
    JOIN sizes nb ON nb.doc_id = c.doc_b
    WHERE i.shared / CAST(na.n_sh + nb.n_sh - i.shared AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------
DECON_N = 5  # eval-overlap n-gram size: longer than the dedup 3-grams —
             # contamination checks want near-verbatim spans, not topical
             # similarity (GPT-3 appendix C / FineWeb use 8-13; this corpus's
             # docs are 10-100 tokens, so 5 keeps the check meaningful).


def decontaminate(docs: DataFrame, bench_pred: Column, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = DECON_N, hasher: str = "md5") -> DataFrame:
    """Flag corpus documents sharing any ``n``-gram with a benchmark set.

    ``bench_pred`` selects the benchmark rows; everything else is corpus.
    Returns one row per contaminated document: (doc_id, n_shingles,
    n_shared, contaminated_frac).

    Scale shape: the benchmark side (an eval set — thousands of docs, not
    terabytes) reduces to a DISTINCT shingle-hash set that **broadcasts**;
    the corpus side explodes its distinct shingles straight into the
    broadcast hash join, so non-colliding shingles die map-side and the
    only shuffle is the (doc_id) count of actual collisions — there is no
    corpus self-join anywhere. Shuffled payload: longs.

    In production the benchmark would be its own table; deriving both
    sides from one table here costs a second scan of the benchmark slice
    only (predicate-pushdown prunes it).
    """
    # explode_outer, NOT explode: plain explode triggers
    # InferFiltersFromGenerate, whose `size(sh) > 0 AND isnotnull(sh)`
    # predicate gets pushed through the staged projections and re-inlines
    # the whole 5-gram HOF pipeline into the scan filter — each row then
    # pays the md5 pipeline ~10x (once per zip_with slice, twice over for
    # the two conjuncts). The outer explode emits a null `s` for empty
    # arrays instead; dropping it AFTER the generate is a cheap long-null
    # check and keeps the pipeline computed exactly once per row.
    # (Measured at sf0.1: 3.2 s -> ~1.1 s.)
    marked = with_shingle_hashes(scale_out(docs), text_col, n, out="_sh",
                                 hasher=hasher) \
        .select(id_col, bench_pred.alias("_is_bench"),
                F.array_distinct("_sh").alias("sh"))
    bench_s = (marked.filter(F.col("_is_bench"))
               .select(F.explode_outer("sh").alias("s"))
               .filter(F.col("s").isNotNull()).distinct())
    corpus = (marked.filter(~F.col("_is_bench"))
              .select(id_col, F.size("sh").cast("long").alias("n_shingles"),
                      F.explode_outer("sh").alias("s"))
              .filter(F.col("s").isNotNull()))
    return (corpus.join(F.broadcast(bench_s), "s")
            .groupBy(id_col, "n_shingles")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .select(id_col, "n_shingles", "n_shared",
                    (F.col("n_shared").cast("double")
                     / F.col("n_shingles").cast("double"))
                    .alias("contaminated_frac")))


def decontaminate_two_tier(docs: DataFrame, bench_pred: Column, *,
                           id_col: str = "doc_id", text_col: str = "text",
                           n: int = DECON_N, hasher: str = "md5",
                           bloom_bits: int | None = None) -> DataFrame:
    """:func:`decontaminate`'s >broadcast-limit composition (r12,
    VERDICT r11 #5): a Bloom pre-filter in front of the exact
    verification join, registered end-to-end instead of living as a
    docstring claim.

    Same output contract as :func:`decontaminate` — (doc_id, n_shingles,
    n_shared, contaminated_frac), one row per contaminated document —
    and PROVABLY the same rows: the Bloom stage has no false negatives
    (every true collision survives the pre-filter) and the exact join
    discards its false positives, so composition output == exact output
    on any corpus, for ANY bitset size. That identity is the oracle
    story: the registered x92 query reuses x25's exact decontamination
    SQL verbatim, and the pytest pin asserts DataFrame-level equality
    against x25's plan.

    Bitset sizing (r13, ADVICE): the r12 form inherited the demo
    constant BLOOM_B = 2^14, which SATURATES once the benchmark holds
    more than a few thousand distinct shingles — the per-probe fill
    1-e^{-Kn/m} → 1 and the pre-filter passes everything, degrading to
    the corpus-scale shuffle the design exists to avoid (output stayed
    correct; the scaling claim didn't). Now the bitset is sized FROM
    the benchmark: one tiny count job over the benchmark slice
    (predicate-pushed scan) picks m = next_pow2(8·n_bench) — per-probe
    fill ≈ 0.22, FPR ≈ 5% — clamped to [2^14, 2^24]. Capacity bound:
    at the 2^24-bit cap (2 MB packed, one plan literal) the 5% FPR
    holds to ~2M benchmark shingles; beyond it the trickle grows
    smoothly (never a cliff — at fill f the pass rate is f^K) and the
    exact join keeps output identical. ``bloom_bits`` overrides the
    auto-size for callers that know their benchmark.

    Scale shape — the regime where this beats :func:`decontaminate`:
    when the benchmark's distinct-shingle table outgrows the broadcast
    limit (a 100 TB-era eval suite), x25's map-side broadcast join is
    off the table and the naive fallback is a corpus-scale shuffle of
    EVERY corpus shingle against the benchmark. Here the packed bitset
    still broadcasts — it is O(bits), not O(shingles): the words ride
    the plan as ONE array literal and the corpus probes it INSIDE the
    scan projection (bloom_filter_array — non-colliding shingles die
    before the explode, a clean document never emits a row), so only
    true hits plus the ~5% false-positive trickle reach the exact
    join, which is deliberately NOT hinted broadcast: AQE picks
    broadcast while the benchmark side is small and a survivor-sized
    shuffle join beyond it, which is exactly the routing the two-tier
    design wants."""
    from .sketches import (bloom_bits_for, bloom_pack_keys,
                           bloom_positions_hashed_for)
    # ONE shared shingle+select helper for both trees (r14, ADVICE r13:
    # the two copies differed only in the scale_out wrapper, and a future
    # edit to one select list would silently desynchronize the
    # bench/corpus split). ``bench_pred`` must be DETERMINISTIC — it
    # classifies rows in both trees independently, so a nondeterministic
    # predicate would split rows inconsistently between them.
    def _shingled(src: DataFrame) -> DataFrame:
        return (with_shingle_hashes(src, text_col, n, out="_sh",
                                    hasher=hasher)
                .select(id_col, bench_pred.alias("_is_bench"),
                        F.array_distinct("_sh").alias("sh")))

    marked = _shingled(scale_out(docs))
    # The benchmark side shingles WITHOUT scale_out (r13 opt, guide §2.4):
    # the slice is eval-suite-sized, and the round-robin repartition the
    # corpus side needs would make this small job pay a full exchange
    # plus a cores-wide stage (measured: the model-collect job carries
    # the repartition's 32-task shuffle for a ~6% slice of the corpus).
    # The benchmark predicate pushes to the scan either way; the corpus
    # side below keeps its scale_out.
    bench_marked = _shingled(docs)
    # PERSISTED lazily (r13): the benchmark shingle set feeds TWO
    # sequential consumers — the model collect below and the exact
    # verify join — and without the persist each re-runs the full
    # benchmark md5-shingle pipeline. Lazy, not eager: the consumers
    # are serial (collect, then the main job), so no stage race exists
    # and an eager count would just be a third pass. The persisted
    # table is BENCHMARK-sized (an eval suite, not the corpus), so the
    # cache is bounded by the small side at any scale.
    bench_s = tracked_persist(
        bench_marked.filter(F.col("_is_bench"))
        .select(F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull()).distinct(), eager=False)
    # ONE model-collect job: the distinct benchmark keys come to the
    # driver (the same O(n_bench) artifact class as the positions table
    # bloom_bitset_words collects — what ships to executors stays the
    # O(bits) words literal); sizing + packing then run driver-side in
    # numpy (bloom_pack_keys, pinned bit-identical to the Spark build).
    keys = [r[0] for r in bench_s.collect()]
    if bloom_bits is None:
        bloom_bits = bloom_bits_for(len(keys))
    positions = bloom_positions_hashed_for(bloom_bits)
    words = bloom_pack_keys(keys, bloom_bits)
    from .sketches import bloom_filter_col
    # scalar probe AFTER the explode, not an array HOF before it: the
    # HOF lambda is interpreted per element (the x53 2.5x adjudication,
    # plans/quality.py) while this expression tree codegens — and the
    # broadcast stays the O(bits) words literal either way.
    corpus = (marked.filter(~F.col("_is_bench"))
              .select(id_col, F.size("sh").cast("long").alias("n_shingles"),
                      F.explode_outer("sh").alias("s"))
              .filter(F.col("s").isNotNull())
              .filter(bloom_filter_col(F.col("s"), words,
                                       positions=positions)))
    return (corpus.join(bench_s, "s")
            .groupBy(id_col, "n_shingles")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .select(id_col, "n_shingles", "n_shared",
                    (F.col("n_shared").cast("double")
                     / F.col("n_shingles").cast("double"))
                    .alias("contaminated_frac")))


def oracle_decontaminate_sql(bench_where: str, *, n: int = DECON_N,
                             table: str = "documents") -> str:
    """DuckDB twin: same distinct-shingle sets, same counts."""
    th, sh_expr = oracle_shingle_hashes("text", n)
    return f"""
    WITH pre AS (
        SELECT doc_id, {th} AS th FROM {table}
    ), base AS (
        SELECT doc_id, list_distinct({sh_expr}) AS sh FROM pre
    ), bench AS (
        SELECT DISTINCT unnest(sh) AS s FROM base WHERE {bench_where}
    ), corpus AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
               unnest(sh) AS s
        FROM base WHERE NOT ({bench_where})
    )
    SELECT c.doc_id, c.n_shingles, CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(COUNT(*) AS DOUBLE) / CAST(c.n_shingles AS DOUBLE)
               AS contaminated_frac
    FROM corpus c JOIN bench USING (s)
    GROUP BY c.doc_id, c.n_shingles
    """


# ---------------------------------------------------------------------------
# Incremental batch dedup against a persisted fingerprint store
# ---------------------------------------------------------------------------
def incremental_dedup(batch: DataFrame, history_fp: DataFrame, *,
                      id_col: str = "doc_id", text_col: str = "text",
                      fp_col: str = "fp") -> DataFrame:
    """Rows of ``batch`` that are genuinely new: the first occurrence
    (min ``id_col``) of each content fingerprint within the batch, minus
    anything whose fingerprint already exists in ``history_fp`` (a
    DataFrame with column ``fp_col`` — in production, the bucketed store
    read via :func:`dedup_against_store`).

    This is the operating shape between x01 (closed-corpus batch dedup)
    and the streaming first-occurrence twin: a daily/hourly batch lands,
    is deduped within itself, then anti-joined against everything ever
    accepted. Scale: ONE shuffle of the new batch on the 60-bit
    fingerprint (a window picks the first occurrence, and the anti-join
    reuses that partitioning), and the (huge) history side never
    re-shuffles when it is a table bucketed on ``fp_col`` (plan pinned
    in tests/test_incremental_dedup.py).
    """
    from pyspark.sql.window import Window as W

    from ..functions.text import fingerprint
    b = batch.withColumn(fp_col, fingerprint(text_col))
    w = W.partitionBy(fp_col).orderBy(F.col(id_col).asc())
    first = (b.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
    return first.join(history_fp.select(fp_col), fp_col, "leftanti")


def dedup_against_store(spark, batch: DataFrame, store_table: str, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        fp_col: str = "fp", n_buckets: int = 32,
                        database: str = "default") -> DataFrame:
    """Stateful wrapper: dedup ``batch`` against the persisted fingerprint
    store ``store_table``, append the survivors' fingerprints, return the
    surviving rows.

    Survivors are snapshotted with ``localCheckpoint`` BEFORE the append
    — a cache/persist is not enough, because appending to the store
    refreshes every cached plan that reads the store table, and the
    survivors' plan does: a lazy (or merely cached) result re-evaluated
    after the append would anti-join against its own output and come
    back empty. The checkpoint breaks that lineage; it is registered
    with the caching registry for the caller's
    ``release_cached_intermediates()``.

    The store is a parquet table bucketed+sorted on ``fp_col``
    (sources/warehouse.py discipline): the per-batch anti-join probe pays
    the shuffle on the new batch only, never on the accumulated history —
    the "pay the shuffle once at load" contract applied to dedup state.
    First call bootstraps an empty store.
    """
    from .caching import persistent_rdd_ids, track_checkpoint_rdds
    full = f"{database}.{store_table}"
    if not spark.catalog.tableExists(full):
        (spark.createDataFrame([], f"{fp_col} long")
         .write.format("parquet")
         .bucketBy(n_buckets, fp_col).sortBy(fp_col)
         .saveAsTable(full))
    else:
        # Validate the caller's n_buckets against the EXISTING table's
        # bucket spec BEFORE the expensive dedup (ADVICE r3): a mismatch
        # used to surface as an AnalysisException at append time — after
        # survivors were computed and checkpointed — leaving the store
        # out of sync with the returned survivors.
        existing = next(
            (int(r.data_type) for r in
             spark.sql(f"DESCRIBE EXTENDED {full}").collect()
             if r.col_name == "Num Buckets"), None)
        if existing is not None and existing != n_buckets:
            raise ValueError(
                f"dedup_against_store: {full} is bucketed into {existing} "
                f"buckets but n_buckets={n_buckets} was requested; pass "
                f"n_buckets={existing} (the store's spec is immutable "
                f"after creation)")
    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    survivors = incremental_dedup(
        batch, spark.table(full), id_col=id_col,
        text_col=text_col, fp_col=fp_col).localCheckpoint(eager=True)
    track_checkpoint_rdds(sc, persistent_rdd_ids(sc) - before)
    (survivors.select(fp_col)
     .write.mode("append").format("parquet")
     .bucketBy(n_buckets, fp_col).sortBy(fp_col)
     .saveAsTable(full))
    return survivors


def dedup_against_versioned_store(spark, batch: DataFrame, root: str, *,
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  fp_col: str = "fp") -> DataFrame:
    """:func:`dedup_against_store` with ATOMIC reader visibility
    (VERDICT r4 task #6): the fingerprint store is a versioned-snapshot
    directory (sources/warehouse.py write_versioned) where each version
    holds ONE batch's accepted fingerprints — the delta-log pattern.
    "History" is the union of COMMITTED versions only, so a reader (or
    the next batch) racing this batch's append sees the store before or
    after the whole batch, never a partial file set: the flip is the
    new version's _SUCCESS marker, and a crashed write leaves an
    ignored orphan directory. Concurrent-reader behavior is pinned in
    tests/test_incremental_dedup.py.

    Trade vs the bucketed store: each version is plain parquet (no
    catalog bucket metadata), so the anti-join shuffles the history
    side per batch — the price of multi-reader atomicity. Single-writer
    pipelines with no external readers keep the bucketed store's
    exchange-free probe; pipelines whose store doubles as a published
    table take this one. Squash the per-batch versions with
    ``sources.warehouse.squash_versioned(distinct=True)`` once the
    version count grows (compact_versioned would DROP pre-current
    deltas — its state model is current-version-only).
    """
    from ..sources.warehouse import list_versions, write_versioned
    from .caching import persistent_rdd_ids, track_checkpoint_rdds
    dirs = [d for _, d in list_versions(spark, root)]
    if dirs:
        history = spark.read.parquet(*dirs).select(fp_col)
    else:
        history = spark.createDataFrame([], f"{fp_col} long")
    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    survivors = incremental_dedup(
        batch, history, id_col=id_col,
        text_col=text_col, fp_col=fp_col).localCheckpoint(eager=True)
    track_checkpoint_rdds(sc, persistent_rdd_ids(sc) - before)
    write_versioned(spark, root, survivors.select(fp_col))
    return survivors


def ngram_containment_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            max_df: int = MAX_SHINGLE_DF,
                            threshold: float = 0.8,
                            hasher: str = "md5") -> DataFrame:
    """Directed n-gram CONTAINMENT for blocked candidate pairs:
    containment(A→B) = |A∩B| / |A| — the asymmetric twin of Jaccard that
    catches quotes, excerpts, and supersets (a short doc fully embedded
    in a long one scores ~1 here but can sit far below any symmetric
    Jaccard threshold). Returns (doc_a, doc_b, shared, containment_ab,
    containment_ba) for pairs whose LARGER containment direction reaches
    ``threshold``. Same blocked candidate machinery and scale contract
    as ngram_jaccard_pairs (shared helper); same exact intersection via
    shared-rare counting + common-stratum arrays.
    """
    cand, a, b = _rare_candidate_payload(docs, id_col, text_col, n,
                                         max_df, hasher)
    # greatest(c_ab, c_ba) >= t  ==  shared >= t * least(n_a, n_b):
    # one reference to `shared`, so the pushed-down join filter evaluates
    # the array_intersect once per candidate (x06 discipline).
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("shared",
                    (F.col("shared_rare")
                     + F.size(F.array_intersect("a_arr", "b_arr"))).cast("long"))
        .filter(F.col("shared").cast("double")
                >= F.lit(threshold) * F.least("n_a", "n_b").cast("double"))
        .select(
            "doc_a", "doc_b", "shared",
            (F.col("shared").cast("double") / F.col("n_a").cast("double"))
            .alias("containment_ab"),
            (F.col("shared").cast("double") / F.col("n_b").cast("double"))
            .alias("containment_ba"),
        )
    )


def oracle_ngram_containment_sql(*, n: int = 3, max_df: int = MAX_SHINGLE_DF,
                                 threshold: float = 0.8) -> str:
    th, sh_expr = oracle_shingle_hashes("text", n)
    return f"""
    WITH pre AS (
        SELECT doc_id, {th} AS th FROM documents
    ), shc AS (
        SELECT doc_id, {sh_expr} AS sh FROM pre
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shc
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), rare AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {max_df}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b USING (s) JOIN rare USING (s)
        WHERE a.doc_id < b.doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b, i.shared,
           i.shared / CAST(na.n_sh AS DOUBLE) AS containment_ab,
           i.shared / CAST(nb.n_sh AS DOUBLE) AS containment_ba
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes na ON na.doc_id = c.doc_a
    JOIN sizes nb ON nb.doc_id = c.doc_b
    WHERE CAST(i.shared AS DOUBLE)
          >= {threshold} * CAST(LEAST(na.n_sh, nb.n_sh) AS DOUBLE)
    """


def remove_boilerplate_segments(docs: DataFrame, *, id_col: str = "doc_id",
                                group_col: str = "source",
                                text_col: str = "text",
                                seg_tokens: int = 8, min_df: int = 5,
                                hasher: str = "md5") -> DataFrame:
    """Cross-document boilerplate removal: drop repeated token segments.

    The line-dedup pass of web-corpus pipelines (CCNet / RefinedWeb
    style) re-expressed over token windows: each document splits into
    non-overlapping ``seg_tokens``-token segments, a segment is
    boilerplate when its fingerprint occurs in >= ``min_df`` distinct
    documents of the SAME ``group_col`` (headers, footers, navigation
    chrome repeat within a site; prose does not), and each document is
    reassembled from its surviving segments in order. Returns
    (id, group, n_segments, n_boilerplate, clean_text).

    Scale shape: one shuffle of (group, fp, id) longs for the
    document-frequency aggregate; the flag step LEFT-joins only the
    fingerprints that cleared ``min_df`` — the chrome set, bounded by
    sites × chrome segments, not the corpus — so AQE broadcasts it and
    the segment text does NOT shuffle to be flagged (falls back to a
    shuffle join only if the chrome set is genuinely huge); one shuffle
    on id to reassemble, the only time text moves. The segment explode
    is scan-local (split once, slice per segment — x31's chunking
    discipline). At 100 TB the df aggregate is map-side combined and
    bounded by distinct segments, and reassembly state per document is
    its own segments only.
    """
    h = HASHERS[hasher]
    d = (scale_out(docs)
         .withColumn("_toks", F.split(F.col(text_col), " "))
         .withColumn("_starts", F.sequence(
             F.lit(1), F.greatest(F.size("_toks"), F.lit(1)),
             F.lit(seg_tokens)))
         .withColumn("_segs", F.transform(
             "_starts",
             lambda s: F.array_join(F.slice(F.col("_toks"), s, seg_tokens),
                                    " "))))
    # LAZY persist: the segment table feeds the df aggregate AND the
    # flag join-back; without it the split + md5-per-segment scan runs
    # twice (both consumers live inside the caller's one job — the
    # x12-SQL-twin persist discipline)
    segs = tracked_persist(
        d.select(F.col(id_col), F.col(group_col),
                 F.posexplode("_segs").alias("seg_id", "seg_text"))
        .withColumn("fp", h(F.col("seg_text"))),
        eager=False)
    boiler = (segs.select(group_col, "fp", id_col).distinct()
              .groupBy(group_col, "fp")
              .agg(F.count(F.lit(1)).alias("seg_df"))
              .filter(F.col("seg_df") >= min_df)
              .select(group_col, "fp"))
    flagged = (segs.join(boiler.withColumn("_boiler", F.lit(True)),
                         [group_col, "fp"], "left")
               .withColumn("_boiler",
                           F.coalesce(F.col("_boiler"), F.lit(False))))
    keep = F.when(~F.col("_boiler"), F.struct("seg_id", "seg_text"))
    return (flagged.groupBy(id_col, group_col)
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 F.sum(F.col("_boiler").cast("long"))
                 .alias("n_boilerplate"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list(keep)),
                                 lambda s: s["seg_text"]), " ")
                 .alias("clean_text")))


def oracle_boilerplate_segments_sql(*, seg_tokens: int = 8, min_df: int = 5,
                                    raw_sql: str = "text") -> str:
    fp = oracle_md5_long("seg_text")
    return f"""
    WITH t AS (
        SELECT doc_id, source, string_split({raw_sql}, ' ') AS toks
        FROM documents
    ), segs AS (
        SELECT doc_id, source,
               CAST((s - 1) // {seg_tokens} AS INTEGER) AS seg_id,
               array_to_string(
                   list_slice(toks, s, s + {seg_tokens} - 1), ' ')
                   AS seg_text
        FROM (SELECT doc_id, source, toks,
                     unnest(range(1, greatest(len(toks), 1) + 1,
                                  {seg_tokens})) AS s
              FROM t)
    ), fps AS (
        SELECT doc_id, source, seg_id, seg_text, {fp} AS fp FROM segs
    ), sdf AS (
        SELECT source, fp, COUNT(DISTINCT doc_id) AS seg_df
        FROM fps GROUP BY source, fp
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN seg_df >= {min_df} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           COALESCE(string_agg(CASE WHEN seg_df < {min_df} THEN seg_text END,
                               ' ' ORDER BY seg_id), '') AS clean_text
    FROM fps JOIN sdf USING (source, fp)
    GROUP BY doc_id, source
    """


def boilerplate_profile(docs: DataFrame, *, id_col: str = "doc_id",
                        group_col: str = "source", text_col: str = "text",
                        seg_tokens: int = 8, min_df: int = 5,
                        hasher: str = "md5") -> DataFrame:
    """(group, bfps): the per-group boilerplate fingerprint arrays that
    remove_boilerplate_segments detects — the STATIC profile the
    streaming twin (streaming/boilerplate.py) consumes. One row per
    group; chrome segments per source are few, so the array is small and
    the whole profile broadcasts."""
    h = HASHERS[hasher]
    d = (scale_out(docs)
         .withColumn("_toks", F.split(F.col(text_col), " "))
         .withColumn("_starts", F.sequence(
             F.lit(1), F.greatest(F.size("_toks"), F.lit(1)),
             F.lit(seg_tokens)))
         .withColumn("_segs", F.transform(
             "_starts",
             lambda s: F.array_join(F.slice(F.col("_toks"), s, seg_tokens),
                                    " "))))
    segs = (d.select(F.col(id_col), F.col(group_col),
                     F.explode("_segs").alias("seg_text"))
            .withColumn("fp", h(F.col("seg_text"))))
    return (segs.select(group_col, "fp", id_col).distinct()
            .groupBy(group_col, "fp")
            .agg(F.count(F.lit(1)).alias("seg_df"))
            .filter(F.col("seg_df") >= min_df)
            .groupBy(group_col)
            .agg(F.sort_array(F.collect_set("fp")).alias("bfps")))


def dedup_repeated_windows(docs: DataFrame, *, id_col: str = "doc_id",
                           text_col: str = "text", win_tokens: int = 4,
                           hasher: str = "md5") -> DataFrame:
    """Exact repeated-substring dedup: remove every duplicated
    ``win_tokens``-token window except its globally-first occurrence.

    The ExactSubstr pass of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ACL'22), re-expressed over OVERLAPPING
    stride-1 token windows instead of a suffix array: a window whose
    fingerprint occurs more than once in the corpus (any source, any
    position — unlike remove_boilerplate_segments' per-source,
    non-overlapping, min_df-thresholded segments) is a duplicated span;
    the single occurrence with the smallest combined key
    ``doc_id * 2^20 + start`` survives, every other occurrence marks its
    ``[start, start+win_tokens)`` token span for removal, and each
    document is reassembled from its unmasked tokens in order. Returns
    (id, n_tokens, n_dup_windows, n_removed_tokens, clean_text), where
    n_dup_windows counts this document's REMOVED window occurrences and
    n_removed_tokens the distinct masked positions (overlapping removed
    windows share tokens).

    The combined key is portable exact-int arithmetic (the DuckDB twin
    reproduces the argmin bit-for-bit) and requires ``1 <= start < 2^20``
    (a ~1M-token document bound) AND ``0 <= doc_id < 2^43`` (else
    ``doc_id * 2^20`` overflows int64 and the argmin silently keeps the
    wrong occurrence). Both bounds are ENFORCED: the key expression
    raises (fails the job) on the first out-of-range row instead of
    corrupting the first-occurrence choice — a long-compare per window
    row, free next to the md5 fingerprint beside it.

    Scale shape: the window explode is scan-local (split once, slice per
    start — n-k+1 windows per n-token doc, same inflation an n-gram
    shingle pass pays); (count, argmin) per fingerprint is ONE
    fp-partitioned window pass — a single long-keyed exchange + sort of
    the 3-long window rows, with per-fp groups tiny (mostly 1-2 rows)
    so the window buffer never grows. The r10 1000× probe caught the
    previous groupBy + join-back form turning super-linear (16×/decade
    at 500M windows): because most fingerprints are UNIQUE, the
    aggregate side was nearly as large as the window table itself, so
    the join-back sort-merged ~500M rows against ~450M and the persisted
    window table spilled — two full sorts plus ~12 GB of storage where
    one suffices. The window form halves the sorted bytes and drops the
    persist entirely (1000× re-measurement in SCALING.md). The
    reassembly groupBy ships only (doc, start) longs for removed
    windows, never text; the final mask is a per-row HOF over the
    original token array. No all-pairs stage exists, so corpus² never
    appears. A single boilerplate fingerprint repeated across the whole
    corpus is a skewed window partition — MEASURED (r11, SCALING.md):
    with ONE span owning 20% of all window rows the penalty is +13% at
    500k docs and +30% at 2M docs versus an equal-size uniform corpus —
    the hot partition is a serial task whose share grows with the
    window stage's share of total cost, a graceful degradation, not a
    stall (the scan-local fingerprinting dominates). If a corpus pushes
    dominance further, the upgrade is a two-phase (fp → count,min)
    hash aggregate (map-side combine collapses the hot key per task)
    with a cnt>=2-filtered broadcast join-back — kept out of the
    default path because the r10 probe measured the join-back form
    2.5x worse on the realistic unique-heavy profile.
    """
    from pyspark.sql import Window as W
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType,
    )

    # The packed argmin key re-derives the id as BIGINT (mk div 2^20)
    # and the join-back/groupBy operate on that long identity, so a
    # non-integral id column would be coerced implicitly — string ids
    # '7' and '07' are distinct but long-equal, and their removal lists
    # would silently merge (ADVICE r10). Require an integral id so the
    # coercion is exact by construction.
    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"dedup_repeated_windows: id column {id_col!r} must be an "
            f"integral type (the packed argmin key re-derives it as "
            f"BIGINT); got {id_type.simpleString()} — cast distinct "
            f"string ids to a dense long key first")

    h = HASHERS[hasher]
    k = win_tokens
    d = (scale_out(docs)
         .withColumn("_toks", F.split(F.col(text_col), " "))
         .withColumn("_n", F.size("_toks")))
    # Scan-local fingerprinting: slice+hash runs inside a transform over
    # the starts BEFORE the explode. The combined key mk = id·2^20 +
    # start is INJECTIVE on (id, start) within the enforced bounds, so
    # the window table ships exactly TWO longs per row — (fp, mk) — and
    # id/start are re-derived exactly (div/mod) only for the removed
    # minority after the filter. At 500M windows that halves the bytes
    # through the sort a second time (the r10 1000× ledger).
    wins = (
        d.select(F.col(id_col), F.posexplode(
            F.when(F.col("_n") >= k, F.transform(
                F.sequence(F.lit(1), F.col("_n") - k + 1),
                lambda s: h(F.array_join(F.slice("_toks", s, k), " "))))
            .otherwise(F.array().cast("array<long>"))).alias("_i", "fp"))
        .withColumn("start", F.col("_i").cast("long") + 1)
        .select("fp",
                F.when((F.col(id_col).cast("long") >= 0)
                       & (F.col(id_col).cast("long") < F.lit(2 ** 43))
                       & (F.col("start") < F.lit(2 ** 20)),
                       F.col(id_col).cast("long") * F.lit(2 ** 20)
                       + F.col("start"))
                .otherwise(F.raise_error(F.concat(
                    F.lit("dedup_repeated_windows: combined argmin key "
                          "needs 0 <= id < 2^43 and start < 2^20; got id="),
                    F.col(id_col).cast("string"), F.lit(" start="),
                    F.col("start").cast("string")))).alias("mk")))
    wfp = W.partitionBy("fp")
    rem = (wins
           .withColumn("_cnt", F.count(F.lit(1)).over(wfp))
           .withColumn("_mn", F.min("mk").over(wfp))
           .filter((F.col("_cnt") >= 2) & (F.col("mk") != F.col("_mn")))
           .select(F.expr("mk div 1048576").alias(id_col),
                   F.expr("mk % 1048576").alias("start"))
           .groupBy(id_col)
           .agg(F.collect_list("start").alias("_rs")))
    out = (d.join(rem, id_col, "left")
           .withColumn("_rs", F.coalesce(
               F.col("_rs"), F.array().cast("array<long>")))
           .withColumn("_rp", F.array_distinct(F.flatten(F.transform(
               "_rs", lambda s: F.sequence(s, s + k - 1))))))
    clean = F.array_join(
        F.filter("_toks",
                 lambda x, i: ~F.array_contains("_rp", i.cast("long") + 1)),
        " ")
    return out.select(
        F.col(id_col), F.col("_n").cast("long").alias("n_tokens"),
        F.size("_rs").cast("long").alias("n_dup_windows"),
        F.size("_rp").cast("long").alias("n_removed_tokens"),
        clean.alias("clean_text"))


def oracle_repeated_windows_sql(*, win_tokens: int = 4,
                                raw_sql: str = "text") -> str:
    k = win_tokens
    fp = oracle_md5_long("wtext")
    return f"""
    WITH t AS (
        SELECT doc_id, string_split({raw_sql}, ' ') AS toks FROM documents
    ), w AS (
        SELECT doc_id, CAST(s AS BIGINT) AS start,
               array_to_string(list_slice(toks, s, s + {k} - 1), ' ')
                   AS wtext
        FROM (SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks) - {k} + 1, 0) + 1))
                         AS s
              FROM t)
    ), f AS (
        SELECT doc_id, start, {fp} AS fp,
               doc_id * 1048576 + start AS mk
        FROM w
    ), g AS (
        SELECT fp, COUNT(*) AS cnt, MIN(mk) AS mn FROM f GROUP BY fp
    ), rem AS (
        SELECT doc_id, start FROM f JOIN g USING (fp)
        WHERE cnt >= 2 AND mk <> mn
    ), remlist AS (
        SELECT doc_id, list(start) AS rs,
               list_distinct(flatten(list_transform(
                   list(start), s -> range(s, s + {k})))) AS rp
        FROM rem GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(r.rs), 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(len(r.rp), 0) AS BIGINT) AS n_removed_tokens,
           COALESCE(array_to_string(
               list_filter(t.toks,
                           (x, i) -> NOT list_contains(
                               COALESCE(r.rp, []), CAST(i AS BIGINT))),
               ' '), '') AS clean_text
    FROM t LEFT JOIN remlist r USING (doc_id)
    """


def cdc_chunk_stats(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", w: int = 4, d: int = 8,
                    hasher: str = "md5") -> DataFrame:
    """Content-defined chunking audit (LBFS rolling-hash boundaries,
    Muthitacharoen et al. SOSP'01): chunk where the rolling w-gram hash
    is 0 mod d, fingerprint each chunk, and report per-document sharing
    against the whole corpus. Registered as x69 with the md5 oracle
    hash; ``hasher="xx"`` is the production xxhash64 path (same plan
    shape, ~4x cheaper per hashed string — bench.py fast_variants).

    Shape: boundary detection in-array pre-explode; chunk assembly one
    doc-keyed window + (doc, chunk) aggregate — both codegen'd (the
    all-in-array variant was measured 8x slower at 10x, see the x69
    docstring); sharing is one fp aggregate + join-back. Output:
    (id_col, n_chunks, n_shared_chunks, shared_tokens)."""
    from pyspark.sql import Window as W

    from ..functions.text import shingles, tokens
    h = HASHERS[hasher]
    base = (df.select(F.col(id_col), tokens(text_col).alias("toks"),
                      shingles(text_col, w).alias("sh"))
            .withColumn(
                "trig",
                F.transform(
                    F.sequence(F.lit(1), F.size("toks")),
                    lambda p: F.when(
                        p >= w, h(F.get("sh", p - w)) % d == 0)
                    .otherwise(F.lit(False)))))
    e = (base.select(id_col,
                     F.posexplode(F.arrays_zip("toks", "trig"))
                     .alias("pos0", "z"))
         .select(id_col, (F.col("pos0") + 1).alias("pos"),
                 F.col("z.toks").alias("tok"),
                 F.col("z.trig").alias("trig")))
    win = (W.partitionBy(id_col).orderBy("pos")
           .rowsBetween(W.unboundedPreceding, -1))
    c = e.withColumn(
        "chunk_id",
        F.coalesce(F.sum(F.col("trig").cast("int")).over(win), F.lit(0)))
    ch = (c.groupBy(id_col, "chunk_id")
          .agg(F.count(F.lit(1)).alias("n_toks"),
               F.array_sort(F.collect_list(F.struct("pos", "tok")))
               .alias("pt"))
          .select(id_col, "n_toks",
                  h(F.concat_ws(
                      " ", F.transform("pt", lambda x: x["tok"])))
                  .alias("fp")))
    fs = ch.groupBy("fp").agg(
        F.countDistinct(id_col).alias("n_docs_fp"))
    return (ch.join(fs, "fp")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum((F.col("n_docs_fp") > 1).cast("int"))
                 .cast("long").alias("n_shared_chunks"),
                 F.sum(F.when(F.col("n_docs_fp") > 1, F.col("n_toks"))
                       .otherwise(0)).cast("long").alias("shared_tokens")))
