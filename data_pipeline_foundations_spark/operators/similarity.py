"""Similarity search over embedding columns (array<float>).

Four tiers, per the BASELINE.json north star:
  - **Brute-force cosine top-k** — the exactness baseline. Queries are a
    small set broadcast against the corpus; at 100 TB the corpus side
    stays partition-parallel and nothing shuffles except the per-query
    top-k reduction.
  - **SRP-LSH (random hyperplane)** — query-independent sign-bit buckets;
    candidates only within matching buckets.
  - **IVF-flat** — data-adaptive inverted lists under a coarse quantizer;
    search the nprobe nearest lists only.
  - **PQ-ADC** — vectors compress to m codebook codes; queries rank by
    code-table lookups, never rereading raw vectors.

QUANTIZED-EMBEDDING CONTRACT (determinism + speed, one mechanism): every
vector is scaled ONCE to int64 (``sv[i] = floor(x[i] * 1e6 + 0.5)``), and
every reduction — dot products, norms, PQ distances — is an int64 sum.
Integer addition is associative, so ANY evaluation order (Spark HOF fold,
DuckDB list_reduce, numpy matmul) produces the same value; the only
floats are derived at output from those exact ints via individually-
rounded IEEE ops (cast, sqrt, *, /) that all three engines round
identically. Consequences:
  - the DuckDB oracle reproduces results bit-for-bit with no left-fold
    ordering contract (the float-fold scheme this replaces was
    order-FRAGILE: any engine that resummed differently flipped last
    bits);
  - the hot per-row kernels (SRP signatures, PQ code assignment, bucket
    pair verification) run Arrow-vectorized (operators/vectorized.py),
    one implementation each; tests/test_oracle_parity.py pins every
    registered query that runs them bit-for-bit to its DuckDB oracle.

Cosine is ``idot / (sqrt(na2) * sqrt(nb2))`` — three IEEE roundings from
exact ints. |x| <= ~0.6 in this corpus so idot <= ~2.2e13: far inside
int64 and inside double's exact-integer range (2^53).

Cited reference scope: the reference repo has no similarity operators;
these are BASELINE.json north-star extensions (SURVEY.md §7.2 slice 7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.sql import sql_ident
from ..tables import scale_out
from .vectorized import EMB_SCALE


def int_vec(col: Column | str) -> Column:
    """array<float> -> array<long>: the 1e-6-grid quantized vector. A
    column name is quoted, so a dot in it never reads as a struct field."""
    c = F.col(sql_ident(col)) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.floor(
        x.cast("double") * F.lit(EMB_SCALE) + F.lit(0.5)).cast("long"))


def idot(a: Column | str, b: Column | str) -> Column:
    """Exact int64 dot product — associative, order-independent."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(ca, cb, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def qcos(d: Column, na2: Column, nb2: Column) -> Column:
    """Quantized cosine: three IEEE roundings from exact ints."""
    return d.cast("double") / (F.sqrt(na2.cast("double"))
                               * F.sqrt(nb2.cast("double")))


def oracle_int_vec(sql: str) -> str:
    return (f"list_transform({sql}, x -> CAST(FLOOR(CAST(x AS DOUBLE) "
            f"* {EMB_SCALE} + 0.5) AS BIGINT))")


def oracle_idot(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"p -> p[1] * p[2]), (x, y) -> x + y)")


def oracle_qcos(d: str, na2: str, nb2: str) -> str:
    return (f"(CAST({d} AS DOUBLE) / (sqrt(CAST({na2} AS DOUBLE)) "
            f"* sqrt(CAST({nb2} AS DOUBLE))))")


def cosine_topk(emb: DataFrame, *, id_col: str = "vec_id",
                vec_col: str = "embedding", n_queries: int = 10,
                k: int = 5) -> DataFrame:
    """Exact quantized-cosine top-k: the first ``n_queries`` vectors (by
    id) against the whole corpus. Returns (query_id, neighbor_id, rank,
    cosine).

    The query side is tiny → broadcast; the corpus never shuffles until
    the final per-query top-k, which is a k-row reduction per query.
    """
    from pyspark.sql import Window as W
    base = (scale_out(emb)
            .select(F.col(id_col), int_vec(vec_col).alias("sv"))
            .withColumn("n2", idot("sv", "sv"))
            # hoisted sqrt: same derived-float value as qcos (the sqrt of
            # an exact int is one rounding wherever it is computed), but
            # evaluated once per row instead of once per pair
            .withColumn("rt", F.sqrt(F.col("n2").cast("double"))))
    # query side from the pushed-filter scan (see srp_bucket_neighbors):
    # deriving it from the repartitioned corpus re-executes the corpus
    # projection stage to keep n_queries rows
    q = (emb.select(F.col(id_col), int_vec(vec_col).alias("qv"))
         .filter(F.col(id_col) < n_queries)
         .withColumn("qrt", F.sqrt(idot("qv", "qv").cast("double")))
         .select(F.col(id_col).alias("query_id"), "qv", "qrt"))
    joined = (
        base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (idot("qv", "sv").cast("double")
             / (F.col("qrt") * F.col("rt"))).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def oracle_cosine_topk_sql(*, n_queries: int = 10, k: int = 5) -> str:
    return f"""
    WITH b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2 FROM b0
    ), q AS (
        SELECT vec_id AS query_id, sv AS qv, n2 AS qn2 FROM base
        WHERE vec_id < {n_queries}
    ), joined AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               {oracle_qcos(oracle_idot('q.qv', 'b.sv'), 'q.qn2', 'b.n2')} AS cosine
        FROM base b, q
        WHERE b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank,
           cosine
    FROM joined
    QUALIFY rank <= {k}
    """


def hard_negatives(emb: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", label_col: str = "label",
                   n_queries: int = 10, k: int = 5) -> DataFrame:
    """Exact hard negatives for contrastive training (the registered x86
    plan): for each of the first ``n_queries`` vectors, the ``k``
    nearest corpus vectors whose label DIFFERS from the query's — the
    highest-similarity wrong-label examples, exactly the pairs a
    contrastive objective learns most from (x58's hash-drawn negatives
    are the cheap uniform alternative; these are the curriculum's hard
    tier). Returns (query_id, query_label, negative_id, negative_label,
    rank, cosine). At 100 TB the production path is
    :func:`hard_negatives_ann` (shards the query set over the IVF
    candidate pool, x20's quantizer); this exact form is the
    ground-truth / evaluation tier.

    Each Arrow batch becomes ONE int64 numpy matmul against the
    broadcast query matrix (vectorized.hard_negative_scorer: the
    oracle's exact quantized-int dots, |dot| ≤ dim·(max|v|·1e6)² ≪ 2^63,
    and IEEE cosine d / (qrt·rt)). The Column form with a label-mismatch
    broadcast NESTED-LOOP join and a per-pair F.aggregate/zip_with dot
    read 4× slower at 2M vectors (SCALING.md r12 part 6).

    Zero-norm vectors (r13, ADVICE): cosine is undefined for them, so
    this form and the oracle DROP zero-norm rows up front — on either
    side of the pair (the query filter below, the scorer's corpus side).

    Scale shape: the query side is a KB-scale driver artifact (x42's
    collect discipline); the corpus streams through mapInPandas once,
    each batch emitting at most n_queries·k pre-trimmed survivors
    (per-batch top-k under the SAME total order (cosine desc, id asc)
    keeps the global top-k by pigeonhole — batch-local top-k then a
    global merge, as in REPOSE), and the terminal window ranks
    ~n_queries·k·n_batches rows."""
    from pyspark.sql import Window as W

    from .vectorized import hard_negative_scorer
    q_rows = (emb.filter(F.col(id_col) < n_queries)
              .select(id_col, label_col, int_vec(vec_col).alias("qv"))
              .filter(idot("qv", "qv") > 0)
              .collect())
    out_schema = (f"query_id long, query_label int, negative_id long, "
                  f"negative_label int, cosine double")
    score = hard_negative_scorer(q_rows, k, id_col, vec_col, label_col)
    survivors = (scale_out(emb)
                 .select(id_col, label_col, vec_col)
                 .mapInPandas(score, schema=out_schema))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                          F.col("negative_id").asc())
    return (survivors.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "query_label", "negative_id",
                    "negative_label", F.col("rank").cast("int").alias("rank"),
                    "cosine"))


def oracle_hard_negatives_sql(*, n_queries: int = 10, k: int = 5) -> str:
    return f"""
    WITH b0 AS (
        SELECT vec_id, label, {oracle_int_vec('embedding')} AS sv
        FROM embeddings
    ), base0 AS (
        SELECT vec_id, label, sv, {oracle_idot('sv', 'sv')} AS n2 FROM b0
    ), base AS (
        SELECT * FROM base0 WHERE n2 > 0  -- zero-norm drop (r13, ADVICE)
    ), q AS (
        SELECT vec_id AS query_id, label AS query_label, sv AS qv, n2 AS qn2
        FROM base WHERE vec_id < {n_queries}
    ), joined AS (
        SELECT q.query_id, q.query_label, b.vec_id AS negative_id,
               b.label AS negative_label,
               {oracle_qcos(oracle_idot('q.qv', 'b.sv'), 'q.qn2', 'b.n2')} AS cosine
        FROM base b, q
        WHERE b.label <> q.query_label
    )
    SELECT query_id, query_label, negative_id, negative_label,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id ASC) AS INTEGER) AS rank,
           cosine
    FROM joined
    QUALIFY rank <= {k}
    """


def hard_negatives_ann(emb: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", label_col: str = "label",
                       k_clusters: int = 16, nprobe: int = 6,
                       n_queries: int = 10, k: int = 5, seed: int = 3,
                       dim: int = 64) -> DataFrame:
    """The PRODUCTION hard-negative mining tier (r13, VERDICT r12 #2):
    IVF-routed candidate generation + label-mismatch filter + exact
    re-rank — the composition :func:`hard_negatives`' docstring promised
    ("shards the query set and reuses the IVF ladder for the candidate
    pool"), now a tested surface instead of a claim. Where the brute
    tier (x86) scores EVERY corpus vector against every query, this
    scores only vectors whose IVF list is among the query's ``nprobe``
    probed lists — candidate volume drops by ~nprobe/k_clusters while
    x94 measures what that costs in recall.

    Same output contract as x86: (query_id, query_label, negative_id,
    negative_label, rank, cosine), cosine EXACT for every returned pair
    (re-rank uses the full quantized-int dot, never an ADC
    approximation — misses are possible, wrong scores are not).

    Plan shape (x20's fused-kernel template): the coarse model +
    queries (+ labels riding the model collect) is ONE non-AQE
    KB-scale job; the search is ONE map stage — assign each corpus row
    to its list, emit exact cosines for probing queries only
    (vectorized.ivf_cos_udf) — and the label filter + per-query top-k
    window are the only things downstream, so the single shuffle
    carries probed (query, candidate, cosine) rows. Zero-norm inputs
    fail loudly inside the kernel (the IVF family's r9 contract; the
    brute tier's DROP semantics live at x86).
    """
    from pyspark.sql import Window as W

    from .vectorized import ivf_cos_udf
    cents_rows, qrows = _ivf_model_rows(emb, id_col, vec_col, k_clusters,
                                        seed, dim, n_queries,
                                        label_col=label_col)
    qrows = sorted(qrows, key=lambda r: r[id_col])
    probe_sets = _select_probe_sets(cents_rows, qrows, nprobe)
    cos_udf = ivf_cos_udf(cents_rows, probe_sets,
                          [list(r["sv"]) for r in qrows])
    qid_arr = F.array(*[F.lit(int(r[id_col])).cast("long") for r in qrows])
    qlab_arr = F.array(*[F.lit(r["label"]).cast("int") for r in qrows])
    scored = (emb
              .select(F.col(id_col), F.col(label_col), F.col(vec_col).alias("_v"))
              .withColumn("_cos", cos_udf("_v"))
              .select(F.col(id_col).alias("negative_id"),
                      F.col(label_col).alias("negative_label"),
                      F.posexplode("_cos").alias("qi", "cosine"))
              .filter(F.col("cosine") > -2.0)  # -9 = not probed
              .select(qid_arr[F.col("qi")].alias("query_id"),
                      qlab_arr[F.col("qi")].alias("query_label"),
                      "negative_id", "negative_label", "cosine")
              .filter(F.col("negative_label") != F.col("query_label")))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                          F.col("negative_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "query_label", "negative_id",
                    "negative_label", F.col("rank").cast("int").alias("rank"),
                    "cosine"))


def oracle_hard_negatives_ann_sql(*, dim: int = 64, k_clusters: int = 16,
                                  nprobe: int = 6, n_queries: int = 10,
                                  k: int = 5, seed: int = 3) -> str:
    """DuckDB twin of :func:`hard_negatives_ann` — x20's IVF assignment
    CTE chain, probe selection, then the label-mismatch re-rank."""
    nearest = oracle_ivf_nearest_rn()
    return f"""
    WITH {oracle_ivf_assign_ctes(dim=dim, k_clusters=k_clusters,
                                 seed=seed)}, probe AS (
        SELECT query_id, cid FROM (
            SELECT b.vec_id AS query_id, c.cid, {nearest} AS rn
            FROM base b, cents2 c WHERE b.vec_id < {n_queries}) WHERE rn <= {nprobe}
    ), lab AS (
        SELECT vec_id, label FROM embeddings
    ), scored AS (
        SELECT p.query_id, ql.label AS query_label,
               a.vec_id AS negative_id, nl.label AS negative_label,
               {oracle_qcos(oracle_idot('qb.sv', 'nb.sv'), 'qb.n2', 'nb.n2')} AS cosine
        FROM probe p
        JOIN asg a USING (cid)
        JOIN base qb ON qb.vec_id = p.query_id
        JOIN base nb ON nb.vec_id = a.vec_id
        JOIN lab ql ON ql.vec_id = p.query_id
        JOIN lab nl ON nl.vec_id = a.vec_id
        WHERE nl.label <> ql.label
    )
    SELECT query_id, query_label, negative_id, negative_label,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id ASC)
                AS INTEGER) AS rank,
           cosine
    FROM scored
    QUALIFY rank <= {k}
    """


def hard_negative_ann_recall(emb: DataFrame, *, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             label_col: str = "label",
                             k_clusters: int = 16, nprobe: int = 6,
                             n_queries: int = 10, k: int = 5,
                             seed: int = 3, dim: int = 64) -> DataFrame:
    """Recall@k of the ANN-routed mining tier against the brute-force
    ground truth — x61's evaluation shape applied to hard-negative
    mining (r13, VERDICT r12 #2): truth = x86's exact top-k wrong-label
    pairs (the vectorized brute scan), hit = the pair also surfaced by
    :func:`hard_negatives_ann`. Returns (query_id, n_true, n_hit,
    recall) — the number the nprobe knob is tuned against before anyone
    ships ANN-mined negatives at scale.

    Scale shape: both sides are the registered operators' plans
    unchanged; the join is n_queries·k rows against n_queries·k rows —
    driver-free, dimension-sized."""
    truth = (hard_negatives(
        emb, id_col=id_col, vec_col=vec_col, label_col=label_col,
        n_queries=n_queries, k=k)
        .select("query_id", "negative_id"))
    cand = (hard_negatives_ann(
        emb, id_col=id_col, vec_col=vec_col, label_col=label_col,
        k_clusters=k_clusters, nprobe=nprobe, n_queries=n_queries, k=k,
        seed=seed, dim=dim)
        .select("query_id", "negative_id")
        .withColumn("hit", F.lit(1)))
    return (truth.join(cand, ["query_id", "negative_id"], "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_true"),
                 F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
            .withColumn("recall",
                        F.col("n_hit").cast("double")
                        / F.col("n_true").cast("double")))


def oracle_hard_negative_ann_recall_sql(*, dim: int = 64,
                                        k_clusters: int = 16,
                                        nprobe: int = 6,
                                        n_queries: int = 10, k: int = 5,
                                        seed: int = 3) -> str:
    return f"""
    WITH truth AS (
        SELECT query_id, negative_id
        FROM ({oracle_hard_negatives_sql(n_queries=n_queries, k=k)})
    ), cand AS (
        SELECT query_id, negative_id
        FROM ({oracle_hard_negatives_ann_sql(
            dim=dim, k_clusters=k_clusters, nprobe=nprobe,
            n_queries=n_queries, k=k, seed=seed)})
    )
    SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN c.negative_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN c.negative_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM truth t
    LEFT JOIN cand c
           ON c.query_id = t.query_id AND c.negative_id = t.negative_id
    GROUP BY t.query_id
    """


# ---------------------------------------------------------------------------
# Signed-random-projection LSH (deterministic hyperplanes)
# ---------------------------------------------------------------------------
def _srp_signs(dim: int, bits: int) -> list[list[int]]:
    """±1 hyperplane components, derived from md5 of "bit:component".

    Computed once driver-side (hashlib md5 is deterministic) and embedded
    as literal arrays in Spark, DuckDB, and the numpy kernel — like an
    RNG-free scheme, at zero per-row hashing cost.
    """
    import hashlib
    return [
        [1 if int(hashlib.md5(f"{b}:{c}".encode()).hexdigest()[:15], 16) & 1
         else -1 for c in range(dim)]
        for b in range(bits)
    ]


def oracle_srp_expr(sv_sql: str, dim: int, bits: int = 16) -> str:
    terms = []
    for b, signs in enumerate(_srp_signs(dim, bits)):
        arr = "[" + ", ".join(str(s) for s in signs) + "]::BIGINT[]"
        proj = oracle_idot(sv_sql, arr)
        terms.append(f"CASE WHEN {proj} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _with_sig(raw: DataFrame, id_col: str, vec_col: str, dim: int,
              bits: int, out: str) -> DataFrame:
    """(id, sv, n2, <out>=signature) — the SRP signature from the Arrow
    kernel (vectorized.srp_sig_udf)."""
    from .vectorized import srp_sig_udf

    base = (raw.select(F.col(id_col), F.col(vec_col).alias("_emb"),
                       int_vec(vec_col).alias("sv"))
            .withColumn("n2", idot("sv", "sv")))
    sig = srp_sig_udf(_srp_signs(dim, bits))(F.col("_emb"))
    return base.withColumn(out, sig).drop("_emb")


def srp_bucket_neighbors(emb: DataFrame, *, id_col: str = "vec_id",
                         vec_col: str = "embedding", dim: int = 64,
                         bits: int = 16, n_queries: int = 10,
                         k: int = 5) -> DataFrame:
    """ANN: exact quantized-cosine ranking restricted to same-SRP-bucket
    candidates.

    The bucket equi-join replaces the cross join — at corpus scale the
    candidate set per query is |bucket|, not |corpus|. Recall depends on
    ``bits``; this is the documented trade. The signature is one int64
    matmul per Arrow batch (vectorized.py).
    """
    from pyspark.sql import Window as W
    base = (_with_sig(scale_out(emb), id_col, vec_col, dim, bits, "bucket")
            .withColumn("rt", F.sqrt(F.col("n2").cast("double"))))
    # Query side from the PUSHED-FILTER scan, not the repartitioned
    # corpus: deriving q from `base` re-executed the whole corpus
    # signature stage a second time just to keep 10 rows (the id filter
    # does not push through the round-robin repartition), measured at
    # ~2x the operator's total cost at sf0.1. The signature expression is
    # identical on both sides, so results are bit-equal — pinned by the
    # oracle and test_similarity.
    q = (_with_sig(emb.filter(F.col(id_col) < n_queries), id_col, vec_col,
                   dim, bits, "qb")
         .withColumn("qrt", F.sqrt(F.col("n2").cast("double")))
         .select(F.col(id_col).alias("query_id"), F.col("sv").alias("qv"),
                 "qrt", "qb"))
    joined = (
        base.join(F.broadcast(q),
                  (F.col("bucket") == F.col("qb")) & (F.col(id_col) != F.col("query_id")))
        .select("query_id", F.col(id_col).alias("neighbor_id"),
                (idot("qv", "sv").cast("double")
                 / (F.col("qrt") * F.col("rt"))).alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def oracle_srp_neighbors_sql(*, dim: int = 64, bits: int = 16,
                             n_queries: int = 10, k: int = 5) -> str:
    sig = oracle_srp_expr("sv", dim, bits)
    return f"""
    WITH b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2, {sig} AS bucket
        FROM b0
    ), q AS (
        SELECT vec_id AS query_id, sv AS qv, n2 AS qn2, bucket AS qb FROM base
        WHERE vec_id < {n_queries}
    ), joined AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               {oracle_qcos(oracle_idot('q.qv', 'b.sv'), 'q.qn2', 'b.n2')} AS cosine
        FROM base b JOIN q ON b.bucket = q.qb AND b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank,
           cosine
    FROM joined
    QUALIFY rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------
def _collect_no_aqe(df: DataFrame) -> list:
    """Collect a KB-sized model/artifact table as ONE Spark job.

    Under AQE every exchange of the plan is materialized as its own
    scheduler round trip (~5 jobs measured for a <100 KB model union);
    these collects feed driver-side model assembly where the adaptive
    re-planning has nothing to optimize, so AQE is toggled off around
    the action. Shared by the IVF/PQ artifact builds and the Lloyd
    training iterations (r14: the per-iteration collects previously ran
    under AQE and paid the multi-job dispatch per refinement pass)."""
    conf = df.sparkSession.conf
    aqe0 = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return [r.asDict() for r in df.collect()]
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe0)


def _quantized_sums(vec_col: str, dim: int) -> Column:
    """``vec``: the exact per-dimension bigint sums of ``vec_col`` on the
    1e-6 grid (the int_vec quantization, inlined per element), as ONE
    parsed aggregate — the IVF centroid numerator. ``vec_col`` is quoted,
    so any caller column name is safe."""
    v = sql_ident(vec_col)
    return F.expr(
        "array(" + ", ".join(
            f"sum(cast(floor(cast({v}[{i}] as double) * "
            f"{EMB_SCALE} + 0.5) as bigint))"
            for i in range(dim)) + ")"
    ).alias("vec")


def _ivf_model_rows(emb: DataFrame, id_col: str, vec_col: str,
                    k_clusters: int, seed: int, dim: int,
                    n_queries: int = 0,
                    label_col: str | None = None) -> tuple[list, list]:
    """ONE-job IVF model collect for the Arrow paths: returns
    (cents_rows [{cid, cv, cn2}], qrows [{id_col, sv, n2}]).

    With ``label_col`` set (r13, the hard-negative ANN tier), each
    query row also carries ``label`` — it rides the union's otherwise
    unused ``cnt`` slot, so the collect stays ONE job with the same
    generic schema.

    Model artifacts (k centroid rows + n_queries query vectors) are
    KB-sized driver collects — ONE generic-schema union collected in a
    SINGLE non-AQE job (the x42 template; VERDICT r4 "wrong" #1: serial
    AQE collects here were the last big fixed cost). The centroid side
    goes further than x42: instead of the two-stage posexplode quantizer
    (dim-per-row exploded cells, two shuffles), the per-bucket integer
    sums come from ONE map-side-combined aggregate over ``dim`` column
    sums — at any corpus size the shuffle carries k_clusters×(dim+1)
    longs — and the floor(sum/count) centroid arithmetic happens
    driver-side with the SAME two IEEE casts as the DuckDB oracle's
    centroid CTE (exact bigint sum → double ÷ double → floor), so the
    model is bit-identical to the oracle's (pinned by the oracle parity
    tests of every IVF consumer, x20 and x70 among them).

    The sums expression is ONE F.expr string, not dim separate Column
    objects — building 64 sum Columns through Py4J costs ~1 s of driver
    time per call; one parsed SQL string costs one roundtrip. The
    1e-6-grid quantization is inlined per element (codegen'd
    arithmetic, the exact int_vec expression) instead of a transform
    HOF, which would evaluate interpreted.
    """
    import math

    from ..functions.hashing import md5_long as _md5
    base0 = emb.withColumn(
        "bucket",
        _md5(F.col(id_col).cast("string"), seed=seed) % k_clusters)
    sum_arr = _quantized_sums(vec_col, dim)
    cent_part = (base0.groupBy("bucket")
                 .agg(F.count(F.lit(1)).alias("cnt"), sum_arr)
                 .select(F.lit(0).alias("kind"),
                         F.col("bucket").cast("long").alias("cid"),
                         "cnt", F.lit(0).cast("long").alias("n2"),
                         "vec"))
    model = cent_part
    if n_queries > 0:
        lab = (F.col(label_col).cast("long") if label_col is not None
               else F.lit(0).cast("long"))
        q_part = (emb.filter(F.col(id_col) < n_queries)
                  .select(F.col(id_col), lab.alias("_lab"),
                          int_vec(vec_col).alias("sv"))
                  .select(F.lit(1).alias("kind"),
                          F.col(id_col).cast("long").alias("cid"),
                          F.col("_lab").alias("cnt"),
                          idot("sv", "sv").alias("n2"),
                          F.col("sv").alias("vec")))
        model = cent_part.union(q_part)
    rows = _collect_no_aqe(model)
    cents_rows = []
    for r in rows:
        if r["kind"] != 0:
            continue
        cnt = float(r["cnt"])
        cv = [int(math.floor(float(s) / cnt)) for s in r["vec"]]
        cents_rows.append({"cid": r["cid"], "cv": cv,
                           "cn2": sum(c * c for c in cv)})
    qrows = [{id_col: r["cid"], "sv": list(r["vec"]), "n2": r["n2"],
              "label": int(r["cnt"])}
             for r in rows if r["kind"] == 1]
    return cents_rows, qrows


def _select_probe_sets(cents_rows: list, qrows: list,
                       nprobe: int) -> list[list[int]]:
    """Per-query probe lists, driver-side: the nprobe nearest centroids
    under the derived-float cosine, DESC cos / DESC cid — the exact
    order the oracle's row_number uses. KB-scale arithmetic over the
    collected model; shared by ivf_topk, hard_negatives_ann and
    ivfpq_rerank_topk."""
    import math

    probe_sets = []
    for r in qrows:
        qn2 = int(r["n2"])
        scored_c = sorted(
            ((float(sum(a * b for a, b in zip(r["sv"], c["cv"])))
              / (math.sqrt(float(qn2)) * math.sqrt(float(c["cn2"]))),
              int(c["cid"])) for c in cents_rows),
            reverse=True)[:nprobe]
        probe_sets.append([cid for _, cid in scored_c])
    return probe_sets


def ivf_topk(emb: DataFrame, *, id_col: str = "vec_id",
             vec_col: str = "embedding", k_clusters: int = 16,
             nprobe: int = 6, n_queries: int = 10, k: int = 5,
             seed: int = 3, dim: int = 64) -> DataFrame:
    """IVF-flat ANN: partition the corpus into ``k_clusters`` inverted
    lists under a coarse quantizer, search only the ``nprobe`` lists
    nearest each query, rank candidates by exact quantized cosine.

    This is the third tier of the similarity family (after brute-force
    and SRP-LSH): where SRP buckets are query-independent bit patterns,
    IVF lists adapt to the data distribution, so recall per candidate
    examined is higher on clustered corpora — the standard trade
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI'11, the IVF part).

    The coarse quantizer is RNG-free so the DuckDB oracle reproduces it
    exactly: initial lists are a portable-hash partition of the ids,
    each centroid is the list's integer-mean on the 1e-6 grid (int sums
    → order-independent), and every vector is re-assigned to its nearest
    centroid (one Lloyd refinement step). Centroid cosines are derived
    floats from exact ints — bit-identical in every engine, so even the
    argmax needs no tie-epsilon.

    Scale: the model is ONE map-side-combined aggregate — the shuffle
    carries k_clusters×(dim+1) longs at ANY corpus size — collected with
    the n_queries query vectors in a single non-AQE job; centroid
    floor(sum/count) arithmetic runs driver-side with the same two IEEE
    casts as the DuckDB oracle, so the model is bit-identical. The
    search is ONE fused kernel stage (assign → probe membership → exact
    cosine per probing query, vectorized.ivf_cos_udf) and the ONLY
    shuffle is the final per-query top-k window. Two jobs total; nothing
    in the plan scales with corpus².
    """
    from pyspark.sql import Window as W

    cents_rows, qrows = _ivf_model_rows(
        emb, id_col, vec_col, k_clusters, seed, dim, n_queries)
    # probe selection driver-side (same derived-float cosine, same
    # DESC cos / DESC cid order as the oracle); the probe sets ride
    # the kernel closure — no probe table, no join.
    qrows = sorted(qrows, key=lambda r: r[id_col])
    probe_sets = _select_probe_sets(cents_rows, qrows, nprobe)
    # The whole search is ONE fused map stage (assign → probe check →
    # exact cosine per probing query, ivf_cos_udf) + the per-query
    # top-k window — no scale_out (the repartition exchange costs
    # more than the single-split scan it parallelizes), no broadcast
    # probe join, no second Python stage. Everything downstream of
    # the kernel ships (query, neighbor, cosine) rows for probed
    # candidates only.
    from .vectorized import ivf_cos_udf
    cos_udf = ivf_cos_udf(cents_rows, probe_sets,
                          [list(r["sv"]) for r in qrows])
    qids = [int(r[id_col]) for r in qrows]
    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    scored = (emb
              .select(F.col(id_col), F.col(sql_ident(vec_col)).alias("_v"))
              .withColumn("_cos", cos_udf("_v"))
              .select(F.col(id_col).alias("neighbor_id"),
                      F.posexplode("_cos").alias("qi", "cosine"))
              .filter(F.col("cosine") > -2.0)  # -9 = not probed
              .select(qid_arr[F.col("qi")].alias("query_id"),
                      "neighbor_id", "cosine")
              .filter(F.col("neighbor_id") != F.col("query_id")))
    wk = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                           F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "cosine"))


def oracle_ivf_assign_ctes(*, dim: int = 64, k_clusters: int = 16,
                           seed: int = 3) -> str:
    """The IVF coarse-quantizer assignment as a shared CTE chain
    (b0 → base → cent → cents → cents2 → asg(vec_id, cid)) — ONE copy
    of the assignment semantics (bucket hash, integer-mean centroids,
    derived-float cosine, ties to the LARGEST cid) for every oracle
    that clusters the embedding space (x20's ivf_topk, x70's cluster
    purity). Callers append their own CTEs after it."""
    from ..functions.hashing import oracle_md5_long
    bucket = (f"({oracle_md5_long('CAST(vec_id AS VARCHAR)', seed=seed)}"
              f" % {k_clusters})")
    nearest = oracle_ivf_nearest_rn()
    return f"""b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2, {bucket} AS bucket
        FROM b0
    ), cent AS (
        SELECT bucket, i AS pos,
               CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM base, range(1, {dim + 1}) t(i)
        GROUP BY bucket, i
    ), cents AS (
        SELECT bucket AS cid, list(c ORDER BY pos) AS cv
        FROM cent GROUP BY bucket
    ), cents2 AS (
        SELECT cid, cv, {oracle_idot('cv', 'cv')} AS cn2 FROM cents
    ), asg AS (
        SELECT vec_id, cid FROM (
            SELECT b.vec_id, c.cid, {nearest} AS rn
            FROM base b, cents2 c) WHERE rn = 1
    )"""


def oracle_ivf_nearest_rn() -> str:
    """row_number expression ranking centroids for a base row b against
    cents2 c — shared by the assignment chain and the probe CTE."""
    return (f"row_number() OVER (PARTITION BY b.vec_id ORDER BY "
            f"{oracle_qcos(oracle_idot('b.sv', 'c.cv'), 'b.n2', 'c.cn2')}"
            f" DESC, c.cid DESC)")


def oracle_ivf_topk_sql(*, dim: int = 64, k_clusters: int = 16,
                        nprobe: int = 6, n_queries: int = 10, k: int = 5,
                        seed: int = 3) -> str:
    nearest = oracle_ivf_nearest_rn()
    return f"""
    WITH {oracle_ivf_assign_ctes(dim=dim, k_clusters=k_clusters,
                                 seed=seed)}, probe AS (
        SELECT query_id, cid FROM (
            SELECT b.vec_id AS query_id, c.cid, {nearest} AS rn
            FROM base b, cents2 c WHERE b.vec_id < {n_queries}) WHERE rn <= {nprobe}
    ), scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {oracle_qcos(oracle_idot('qb.sv', 'nb.sv'), 'qb.n2', 'nb.n2')} AS cosine
        FROM probe p
        JOIN asg a USING (cid)
        JOIN base qb ON qb.vec_id = p.query_id
        JOIN base nb ON nb.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC)
                AS INTEGER) AS rank,
           cosine
    FROM scored
    QUALIFY rank <= {k}
    """


def cosine_near_dup_pairs(emb: DataFrame, *, id_col: str = "vec_id",
                          vec_col: str = "embedding", dim: int = 64,
                          bits: int = 16, band_bits: int = 4,
                          threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, SRP-band blocked.

    The 16-bit SRP signature splits into 4-bit bands; vectors sharing ANY
    band are candidates (LSH banding — recall rises with band count), and
    candidates are verified with the exact quantized cosine >= threshold.

    Verification happens INSIDE each band bucket — one int64 Gram matmul
    per bucket (vectorized.py), pairs deduped across bands afterward
    (cosines are bit-identical across bands, so the distinct is exact).
    Each vector moves once per band (~KBs), the pair space never
    materializes outside a bucket, and no per-candidate 64-dim
    interpreted fold runs (the measured top cost of this operator at
    r3). Both kernels read the raw floats: the scan runs no int_vec or
    idot HOF.
    """
    from .vectorized import bucket_pair_cosines, srp_sig_udf

    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    base = (scale_out(emb).select(F.col(id_col), F.col(vec_col).alias("sv"))
            .withColumn("sig", srp_sig_udf(_srp_signs(dim, bits))(
                F.col("sv"))))
    band_structs = [
        F.struct(F.lit(j).alias("band_id"),
                 F.shiftright(F.col("sig"), j * band_bits)
                 .bitwiseAND(F.lit(mask)).alias("band_key"))
        for j in range(nbands)
    ]
    bands = (base.select(F.col(id_col), "sv",
                         F.explode(F.array(*band_structs)).alias("b"))
             .select(id_col, "sv", "b.band_id", "b.band_key"))
    return bucket_pair_cosines(bands, id_col, threshold).distinct()


def oracle_cosine_near_dup_sql(*, dim: int = 64, bits: int = 16,
                               band_bits: int = 4,
                               threshold: float = 0.9) -> str:
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    sig = oracle_srp_expr("sv", dim, bits)
    cos = oracle_qcos(oracle_idot('x.sv', 'y.sv'), 'x.n2', 'y.n2')
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, sv, n2, {j} AS band_id, (sig >> {j * band_bits}) & {mask} AS band_key FROM base"
        for j in range(nbands)
    )
    return f"""
    WITH b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2, {sig} AS sig
        FROM b0
    ), bands AS (
        {band_selects}
    )
    SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
           {cos} AS cosine
    FROM bands x JOIN bands y USING (band_id, band_key)
    WHERE x.vec_id < y.vec_id
      AND {cos} >= {threshold}
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ-ADC) — the memory-bounded fourth tier
# ---------------------------------------------------------------------------
PQ_M = 8            # subspaces
PQ_KS = 16          # centroids per subspace codebook
PQ_SCALE = EMB_SCALE


def _pq_codebook(base: DataFrame, id_col: str, block: int, ks: int,
                 seed: int, m: int = PQ_M) -> DataFrame:
    """(s, cid, cvec): integer-mean PQ centroid per (subspace,
    hash-bucket) over ``base``'s scaled vectors — shared by pq_topk and
    ivfpq_rerank_topk. One partial-agg'd shuffle of (s, bucket, pos)
    cells collapsing to m·ks·block longs ≈ KBs.

    ``m`` is accepted for signature symmetry; the build stays
    posexplode-based — an m-fold slice-struct explode with per-index
    columnar SUMs was MEASURED SLOWER (x36 1.62 s -> 2.10 s min-of-6 at
    sf0.1: the per-row array slicing costs more than the extra skinny
    aggregate stage saves, the same verdict as the IVF columnar
    experiment)."""
    from ..functions.hashing import md5_long

    cells = (base.select(id_col, F.posexplode("sv").alias("pos", "sx"))
             .withColumn("s", (F.col("pos") / block).cast("int"))
             .withColumn("bucket", md5_long(
                 F.concat(F.col(id_col).cast("string"), F.lit(":"),
                          F.col("s").cast("string")), seed=seed) % ks))
    cent = (cells.groupBy("s", "bucket", "pos")
            .agg(F.floor(F.sum("sx").cast("double")
                         / F.count(F.lit(1)).cast("double"))
                 .cast("long").alias("c")))
    return (cent.groupBy("s", "bucket")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c")))
                 .alias("pc"))
            .select("s", F.col("bucket").alias("cid"),
                    F.transform("pc", lambda e: e["c"]).alias("cvec")))


def _pq_artifacts(emb: DataFrame, id_col: str, vec_col: str, block: int,
                  ks: int, seed: int, m: int,
                  n_queries: int) -> tuple[list, list]:
    """(pq_rows, qrows) in ONE non-AQE collect job — the
    _ivfpq_artifacts shape minus the IVF half: PQ codebook rows ride
    kind=1, query vectors kind=2, unioned into a single Spark job so
    the model build pays ONE scheduler roundtrip instead of two
    (VERDICT r4 task #1's one-job discipline, extended to the
    pq_topk/ann_recall paths). Both consumers derive query norms from
    the vectors themselves, so no norm column rides the union."""
    pq_base = emb.select(F.col(id_col), int_vec(vec_col).alias("sv"))
    pq_part = _pq_codebook(pq_base, id_col, block, ks, seed, m=m).select(
        F.lit(1).alias("kind"), F.col("s").cast("int"),
        F.col("cid").cast("long"), F.lit(0).cast("long").alias("n2"),
        F.col("cvec").alias("vec"))
    q_part = (emb.filter(F.col(id_col) < n_queries)
              .select(F.col(id_col), int_vec(vec_col).alias("sv"))
              .select(F.lit(2).alias("kind"), F.lit(-1).alias("s"),
                      F.col(id_col).cast("long").alias("cid"),
                      F.lit(0).cast("long").alias("n2"),
                      F.col("sv").alias("vec")))
    model = pq_part.union(q_part)
    rows = _collect_no_aqe(model)
    pq_rows = [{"s": r["s"], "cid": r["cid"], "cvec": r["vec"]}
               for r in rows if r["kind"] == 1]
    qrows = sorted(({id_col: r["cid"], "sv": list(r["vec"])}
                    for r in rows if r["kind"] == 2),
                   key=lambda r: r[id_col])
    return pq_rows, qrows


def pq_topk(emb: DataFrame, *, id_col: str = "vec_id",
            vec_col: str = "embedding", dim: int = 64, m: int = PQ_M,
            ks: int = PQ_KS, n_queries: int = 10, k: int = 5,
            seed: int = 11) -> DataFrame:
    """PQ-ADC approximate top-k: vectors compress to ``m`` codebook codes
    (one per ``dim/m``-dim subspace); queries rank candidates by the sum
    of per-subspace distances to the CENTROIDS the codes name, never
    touching the raw corpus vectors (Jégou et al., TPAMI'11 — the PQ
    part; the IVF part is ivf_topk). The fourth tier of the similarity
    family: where IVF bounds candidates, PQ bounds BYTES — a scan reads
    m codes per vector (8 B here) instead of dim floats (256 B).

    Deterministic by construction: codebooks come from a portable-hash
    partition of (vec_id, subspace) with integer-mean centroids, and
    EVERY distance is an exact int64 on the 1e-6 grid — no float
    reduction anywhere; the one double division happens at output.

    The KB-sized codebook is collected once; code assignment is one
    int64 distance matmul per Arrow batch (vectorized.py, bit-identical
    argmin), and the per-query ADC tables are computed driver-side from
    the same exact ints — no corpus-side crossJoin and no per-row
    128-centroid interpreted fold (r3's measured double-computation,
    VERDICT "wrong" #2).

    Scale: codebook build is one partial-agg'd shuffle of (s, bucket,
    pos) cells (collapsing to m·ks·block longs ≈ KBs); code assignment
    and the per-query ADC totals are one map-side kernel stage; top-k
    is the final per-query window and the only shuffle. No corpus
    self-join, nothing O(n²).
    """
    from pyspark.sql import Window as W

    from .vectorized import pq_adc_totals_udf

    block = dim // m
    wk = W.partitionBy("query_id").orderBy(F.col("total").asc(),
                                           F.col("neighbor_id").asc())
    # KB-sized model collect — codebook (m·ks rows of `block` longs)
    # + query vectors (n_queries rows) — in ONE non-AQE job; the
    # driver-side equivalent of a broadcast.
    cents_rows, qrows = _pq_artifacts(
        emb, id_col, vec_col, block, ks, seed, m, n_queries)
    qids = [int(r[id_col]) for r in qrows]
    totals_udf = pq_adc_totals_udf(
        cents_rows, [list(r["sv"]) for r in qrows], m, block)
    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    # codes + per-query totals fused into ONE map stage (ADC lookup
    # tables in the kernel closure) straight off the RAW float scan
    # (quantization in-kernel — no interpreted int_vec HOF): the
    # only shuffle left is the final per-query top-k window.
    scored = (scale_out(emb, 8)
              .select(F.col(id_col), F.col(vec_col).alias("_rv"))
              .withColumn("_tot", totals_udf("_rv"))
              .select(F.col(id_col).alias("neighbor_id"),
                      F.posexplode("_tot").alias("qi", "total"))
              .select(qid_arr[F.col("qi")].alias("query_id"),
                      "neighbor_id", "total")
              .filter(F.col("neighbor_id") != F.col("query_id")))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"),
                    (F.col("total").cast("double")
                     / F.lit(PQ_SCALE * PQ_SCALE)).alias("approx_dist")))


def oracle_pq_topk_sql(*, dim: int = 64, m: int = PQ_M, ks: int = PQ_KS,
                       n_queries: int = 10, k: int = 5,
                       seed: int = 11) -> str:
    from ..functions.hashing import oracle_md5_long
    block = dim // m
    bucket = oracle_md5_long(
        "CAST(vec_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)", seed=seed)
    return f"""
    WITH base AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv
        FROM embeddings
    ), bsv AS (
        SELECT vec_id, CAST((i - 1) // {block} AS INT) AS s, i AS pos,
               sv[i] AS sx
        FROM base, range(1, {dim + 1}) t(i)
    ), bk AS (
        SELECT vec_id, s, pos, sx, ({bucket}) % {ks} AS bucket FROM bsv
    ), cent AS (
        SELECT s, bucket, pos,
               CAST(FLOOR(CAST(SUM(sx) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM bk GROUP BY s, bucket, pos
    ), dist AS (
        SELECT v.vec_id, v.s, c.bucket AS cid,
               SUM((v.sx - c.c) * (v.sx - c.c)) AS d
        FROM bk v JOIN cent c ON c.s = v.s AND c.pos = v.pos
        GROUP BY v.vec_id, v.s, c.bucket
    ), codes AS (
        SELECT vec_id AS neighbor_id, s, cid FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d ASC, cid ASC) AS rn
            FROM dist) WHERE rn = 1
    ), qd AS (
        SELECT vec_id AS query_id, s, cid, d FROM dist
        WHERE vec_id < {n_queries}
    ), scored AS (
        SELECT q.query_id, c.neighbor_id, SUM(q.d) AS total
        FROM codes c JOIN qd q ON q.s = c.s AND q.cid = c.cid
        WHERE c.neighbor_id <> q.query_id
        GROUP BY q.query_id, c.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY total ASC, neighbor_id ASC)
                AS INTEGER) AS rank,
           CAST(total AS DOUBLE) / {PQ_SCALE * PQ_SCALE} AS approx_dist
    FROM scored
    QUALIFY rank <= {k}
    """


def ann_recall(emb: DataFrame, *, id_col: str = "vec_id",
               vec_col: str = "embedding", dim: int = 64, m: int = PQ_M,
               ks: int = PQ_KS, n_queries: int = 10, k: int = 5,
               seed: int = 11) -> DataFrame:
    """Recall@k of the PQ-ADC index against the exact brute-force ground
    truth, fused: one model collect (codebook + queries, _pq_artifacts'
    single job) and ONE map stage over the corpus producing BOTH
    rankings' scores per row (vectorized.recall_totals_udf: ADC totals
    and exact quantized cosines off one Arrow pass of the raw floats).
    Both row_number windows share the per-query_id exchange — one sort
    each — so the whole evaluation is two jobs, vs four-plus for the
    compose-two-operators formulation it replaces (bit-identical output;
    the DuckDB oracle still runs the composition).

    Scale shape: the corpus never moves twice — each vector crosses the
    Arrow boundary once and only (query, neighbor, score) longs shuffle;
    the output is n_queries rows. Output: (query_id, n_hits, recall).
    """
    from pyspark.sql import Window as W

    from .vectorized import recall_totals_udf
    block = dim // m
    pq_rows, qrows = _pq_artifacts(
        emb, id_col, vec_col, block, ks, seed, m, n_queries)
    qids = [int(r[id_col]) for r in qrows]
    nq = len(qids)
    udf = recall_totals_udf(
        pq_rows, [list(r["sv"]) for r in qrows], m, block)
    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    d = (scale_out(emb, 8)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("_rv"))
         .withColumn("_pk", udf("_rv"))
         .select("neighbor_id",
                 F.posexplode(F.zip_with(
                     F.slice("_pk", 1, nq),
                     F.slice("_pk", nq + 1, nq),
                     lambda a, b: F.struct(a.cast("long").alias("ap"),
                                           b.alias("ex"))))
                 .alias("qi", "c"))
         .select(qid_arr[F.col("qi")].alias("query_id"), "neighbor_id",
                 F.col("c.ap").alias("ap"), F.col("c.ex").alias("ex"))
         .filter(F.col("neighbor_id") != F.col("query_id")))
    w_ex = W.partitionBy("query_id").orderBy(F.col("ex").desc(),
                                             F.col("neighbor_id").asc())
    w_ap = W.partitionBy("query_id").orderBy(F.col("ap").asc(),
                                             F.col("neighbor_id").asc())
    return (d.withColumn("rank_ex", F.row_number().over(w_ex))
            .withColumn("rank_ap", F.row_number().over(w_ap))
            .filter(F.col("rank_ex") <= k)
            .groupBy("query_id")
            .agg(F.sum((F.col("rank_ap") <= k).cast("int"))
                 .cast("long").alias("n_hits"))
            .select("query_id", "n_hits",
                    (F.col("n_hits").cast("double")
                     / F.lit(float(k))).alias("recall")))


# ---------------------------------------------------------------------------
# IVF-PQ with exact re-rank — the production composite of tiers 3 + 4 + 1
# ---------------------------------------------------------------------------
def _ivfpq_artifacts(emb: DataFrame, id_col: str, vec_col: str, dim: int,
                     k_clusters: int, m: int, ks: int, ivf_seed: int,
                     pq_seed: int,
                     n_queries: int = 0) -> tuple[list, list, list]:
    """(ivf_rows, pq_rows, qrows) in ONE non-AQE collect job — the
    shared model build of build_ivfpq_model and ivfpq_rerank_topk.
    The IVF half uses the one-aggregate columnar-sums shape
    (_ivf_model_rows' reasoning: the shuffle
    carries k_clusters×(dim+1) longs at any corpus size, centroids
    assembled driver-side with the oracle's IEEE casts); the PQ half
    keeps the posexplode build (the columnar variant was measured
    slower for the per-(id, subspace) bucket layout — see
    _pq_codebook); the optional query part rides the same union."""
    import math

    from ..functions.hashing import md5_long as _md5
    block = dim // m
    base0 = emb.withColumn(
        "bucket",
        _md5(F.col(id_col).cast("string"), seed=ivf_seed) % k_clusters)
    sum_arr = _quantized_sums(vec_col, dim)
    ivf_part = (base0.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("cnt"), sum_arr)
                .select(F.lit(0).alias("kind"), F.lit(-1).alias("s"),
                        F.col("bucket").cast("long").alias("cid"),
                        "cnt", F.lit(0).cast("long").alias("n2"), "vec"))
    pq_base = emb.select(F.col(id_col), int_vec(vec_col).alias("sv"))
    pq_part = _pq_codebook(pq_base, id_col, block, ks,
                           pq_seed, m=m).select(
        F.lit(1).alias("kind"), F.col("s").cast("int"),
        F.col("cid").cast("long"), F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("n2"), F.col("cvec").alias("vec"))
    model = ivf_part.union(pq_part)
    if n_queries > 0:
        q_part = (emb.filter(F.col(id_col) < n_queries)
                  .select(F.col(id_col), int_vec(vec_col).alias("sv"))
                  .select(F.lit(2).alias("kind"), F.lit(-1).alias("s"),
                          F.col(id_col).cast("long").alias("cid"),
                          F.lit(0).cast("long").alias("cnt"),
                          idot("sv", "sv").alias("n2"),
                          F.col("sv").alias("vec")))
        model = model.union(q_part)
    rows = _collect_no_aqe(model)
    ivf_rows = []
    for r in rows:
        if r["kind"] != 0:
            continue
        cnt = float(r["cnt"])
        cv = [int(math.floor(float(s) / cnt)) for s in r["vec"]]
        ivf_rows.append({"cid": r["cid"], "cv": cv,
                         "cn2": sum(c * c for c in cv)})
    pq_rows = [{"s": r["s"], "cid": r["cid"], "cvec": r["vec"]}
               for r in rows if r["kind"] == 1]
    qrows = sorted(({id_col: r["cid"], "sv": list(r["vec"]),
                     "n2": r["n2"]} for r in rows if r["kind"] == 2),
                   key=lambda r: r[id_col])
    return ivf_rows, pq_rows, qrows


def build_ivfpq_model(emb: DataFrame, *, id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int = 64,
                      k_clusters: int = 16, m: int = PQ_M, ks: int = PQ_KS,
                      ivf_seed: int = 3, pq_seed: int = 11) -> dict:
    """Train the IVF-PQ model artifacts once and return them as a plain
    dict (KBs: k_clusters centroid rows + m*ks codebook rows, plus the
    params that shaped them) — the build-once / search-many split every
    production vector index exposes (FAISS's train() vs search()).
    The dict feeds encode_corpus (the persisted codes table) and
    pq_search_from_codes, so every later search scans codes with these
    artifacts instead of re-training against the corpus; its rows are
    the ones ivfpq_rerank_topk collects inline."""
    ivf_rows, pq_rows, _ = _ivfpq_artifacts(
        emb, id_col, vec_col, dim, k_clusters, m, ks, ivf_seed, pq_seed)
    return {
        "ivf_rows": ivf_rows,
        "pq_rows": pq_rows,
        "params": {"dim": dim, "k_clusters": k_clusters, "m": m, "ks": ks,
                   "ivf_seed": ivf_seed, "pq_seed": pq_seed},
    }


def ivfpq_rerank_topk(emb: DataFrame, *, id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int = 64,
                      k_clusters: int = 16, nprobe: int = 6, m: int = PQ_M,
                      ks: int = PQ_KS, n_queries: int = 10,
                      r_cand: int = 20, k: int = 5, ivf_seed: int = 3,
                      pq_seed: int = 11) -> DataFrame:
    """IVF-PQ search with exact re-rank — the composite every production
    vector index runs (Jégou et al. TPAMI'11; Johnson et al., "Billion-
    scale similarity search with GPUs", 2017 — the IVFADC + refine
    layout): the IVF coarse quantizer prunes the corpus to ``nprobe``
    inverted lists per query, PQ-ADC ranks the surviving candidates from
    8-byte codes without touching raw vectors, and only the best
    ``r_cand`` rows per query are re-ranked by the exact quantized
    cosine. Output: (query_id, neighbor_id, rank, cosine, approx_dist)
    — rank/cosine exact over the r_cand survivors, approx_dist the ADC
    total that selected them.

    Scale shape: the three model artifacts (IVF centroids, PQ codebooks,
    query vectors) are KB-sized driver collects — broadcast equivalents,
    same pattern as ivf_topk/pq_topk. The whole search side
    is ONE fused map stage over the corpus (vectorized.ivfpq_totals_udf:
    assign list → check probe membership → PQ code → ADC total); rows
    outside every query's probe set emit nothing, so the only
    corpus-derived shuffle carries (query, neighbor, total) longs for
    probed rows. Re-rank fetches raw vectors for r_cand·n_queries ids by
    joining the tiny survivor table (broadcast) against the scan —
    exactly the bounded "refine" read a disk-resident index performs.
    Deterministic end-to-end: every distance is an exact int64 on the
    1e-6 grid, assignment ties are fixed (IVF: largest cid; PQ:
    smallest cid), so the DuckDB oracle reproduces rank, cosine and
    approx_dist bit-for-bit.
    """
    from pyspark.sql import Window as W

    from .vectorized import ivfpq_totals_udf, query_topk_udf

    block = dim // m
    # KB-sized model collect (documented driver-side broadcast
    # equivalent) — k_clusters IVF centroid rows, m·ks PQ codebook rows,
    # and n_queries query vectors, unioned into ONE non-AQE job (AQE
    # would materialize each tiny exchange as its own scheduler
    # roundtrip — measured ~5 jobs for <100 KB); the IVF half is the
    # one-aggregate columnar-sums build (_ivfpq_artifacts /
    # _ivf_model_rows — no posexplode, the shuffle carries
    # k_clusters×(dim+1) longs at any corpus size).
    ivf_rows, pq_rows, qrows = _ivfpq_artifacts(
        emb, id_col, vec_col, dim, k_clusters, m, ks, ivf_seed, pq_seed,
        n_queries=n_queries)
    qids = [int(r[id_col]) for r in qrows]
    qvecs = {int(r[id_col]): (list(r["sv"]), int(r["n2"])) for r in qrows}
    probe_sets = _select_probe_sets(ivf_rows, qrows, nprobe)

    totals_udf = ivfpq_totals_udf(ivf_rows, probe_sets, pq_rows,
                                  [list(r["sv"]) for r in qrows], m, block)
    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    # no scale_out here: the search side is one Arrow matmul per batch —
    # cheap enough that the repartition exchange costs more than the
    # single-split scan it parallelizes; on a real multi-split layout
    # the scan is already parallel
    approx = (emb
              .select(F.col(id_col), F.col(vec_col).alias("_v"))
              .withColumn("_tot", totals_udf("_v"))
              .select(F.col(id_col).alias("neighbor_id"),
                      F.posexplode("_tot").alias("qi", "total"))
              .filter(F.col("total") >= 0)       # -1 = not in a probed list
              .select(qid_arr[F.col("qi")].alias("query_id"),
                      "neighbor_id", "total")
              .filter(F.col("neighbor_id") != F.col("query_id")))
    wr = W.partitionBy("query_id").orderBy(F.col("total").asc(),
                                           F.col("neighbor_id").asc())
    # survivor table: r_cand rows per query, ADC total attached
    topr = (approx.withColumn("_rn", F.row_number().over(wr))
            .filter(F.col("_rn") <= r_cand)
            .select("query_id", "neighbor_id",
                    (F.col("total").cast("double")
                     / F.lit(PQ_SCALE * PQ_SCALE)).alias("approx_dist")))
    # refine: fetch raw vectors for the survivors only (broadcast the
    # tiny survivor table against the scan); the exact-cosine top-k
    # kernel carries approx_dist through, so the survivor table is
    # consumed exactly once — no persist, no second join
    fetch = emb.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("sv"))
    cand = (fetch.join(F.broadcast(topr), "neighbor_id")
            .select("query_id", "neighbor_id", "sv", "approx_dist"))
    return query_topk_udf(cand, qvecs, k)


def oracle_ivfpq_rerank_sql(*, dim: int = 64, k_clusters: int = 16,
                            nprobe: int = 6, m: int = PQ_M, ks: int = PQ_KS,
                            n_queries: int = 10, r_cand: int = 20,
                            k: int = 5, ivf_seed: int = 3,
                            pq_seed: int = 11) -> str:
    from ..functions.hashing import oracle_md5_long
    block = dim // m
    ivf_bucket = (f"({oracle_md5_long('CAST(vec_id AS VARCHAR)', seed=ivf_seed)}"
                  f" % {k_clusters})")
    pq_bucket = oracle_md5_long(
        "CAST(vec_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)", seed=pq_seed)
    nearest = (f"row_number() OVER (PARTITION BY b.vec_id ORDER BY "
               f"{oracle_qcos(oracle_idot('b.sv', 'c.cv'), 'b.n2', 'c.cn2')} DESC, "
               f"c.cid DESC)")
    return f"""
    WITH b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2,
               {ivf_bucket} AS bucket
        FROM b0
    ), icent AS (
        SELECT bucket, i AS pos,
               CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM base, range(1, {dim + 1}) t(i)
        GROUP BY bucket, i
    ), icents AS (
        SELECT bucket AS cid, list(c ORDER BY pos) AS cv
        FROM icent GROUP BY bucket
    ), icents2 AS (
        SELECT cid, cv, {oracle_idot('cv', 'cv')} AS cn2 FROM icents
    ), ivf_asg AS (
        SELECT vec_id AS neighbor_id, cid FROM (
            SELECT b.vec_id, c.cid, {nearest} AS rn
            FROM base b, icents2 c) WHERE rn = 1
    ), ivf_probe AS (
        SELECT query_id, cid FROM (
            SELECT b.vec_id AS query_id, c.cid, {nearest} AS rn
            FROM base b, icents2 c WHERE b.vec_id < {n_queries})
        WHERE rn <= {nprobe}
    ), cand AS (
        SELECT p.query_id, a.neighbor_id
        FROM ivf_probe p JOIN ivf_asg a USING (cid)
        WHERE a.neighbor_id <> p.query_id
    ), bk AS (
        SELECT vec_id, CAST((i - 1) // {block} AS INT) AS s, i AS pos,
               sv[i] AS sx
        FROM base, range(1, {dim + 1}) t(i)
    ), bk2 AS (
        SELECT vec_id, s, pos, sx, ({pq_bucket}) % {ks} AS bucket FROM bk
    ), pcent AS (
        SELECT s, bucket, pos,
               CAST(FLOOR(CAST(SUM(sx) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM bk2 GROUP BY s, bucket, pos
    ), pdist AS (
        SELECT v.vec_id, v.s, c.bucket AS cid,
               SUM((v.sx - c.c) * (v.sx - c.c)) AS d
        FROM bk2 v JOIN pcent c ON c.s = v.s AND c.pos = v.pos
        GROUP BY v.vec_id, v.s, c.bucket
    ), pcodes AS (
        SELECT vec_id AS neighbor_id, s, cid FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d ASC, cid ASC) AS rn
            FROM pdist) WHERE rn = 1
    ), pqd AS (
        SELECT vec_id AS query_id, s, cid, d FROM pdist
        WHERE vec_id < {n_queries}
    ), approx AS (
        SELECT cd.query_id, cd.neighbor_id, SUM(q.d) AS total
        FROM cand cd
        JOIN pcodes c ON c.neighbor_id = cd.neighbor_id
        JOIN pqd q ON q.query_id = cd.query_id
                  AND q.s = c.s AND q.cid = c.cid
        GROUP BY cd.query_id, cd.neighbor_id
    ), topr AS (
        SELECT query_id, neighbor_id,
               CAST(total AS DOUBLE) / {PQ_SCALE * PQ_SCALE} AS approx_dist
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY total ASC,
                                                    neighbor_id ASC) AS rn
              FROM approx)
        WHERE rn <= {r_cand}
    ), rerank AS (
        SELECT t.query_id, t.neighbor_id,
               {oracle_qcos(oracle_idot('qb.sv', 'nb.sv'), 'qb.n2', 'nb.n2')}
                   AS cosine,
               t.approx_dist
        FROM topr t
        JOIN base qb ON qb.vec_id = t.query_id
        JOIN base nb ON nb.vec_id = t.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC)
                AS INTEGER) AS rank,
           cosine, approx_dist
    FROM rerank
    QUALIFY rank <= {k}
    """


# ---------------------------------------------------------------------------
# Semantic deduplication — IVF clusters → within-cluster pairs → components
# ---------------------------------------------------------------------------
def semantic_dedup(emb: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", k_clusters: int = 16,
                   threshold: float = 0.5, seed: int = 3,
                   dim: int = 64) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    2023): cluster the embedding space with the deterministic IVF coarse
    quantizer, call two documents semantic duplicates when they land in
    the same cluster with quantized cosine >= ``threshold``, take
    connected components of those pairs, and keep the minimum id per
    component. Output: (vec_id, cluster_id, cluster_size, is_canonical)
    — "DELETE WHERE is_canonical = 0" is the dedup action.

    Scale shape: the pair space only ever materializes INSIDE one
    IVF cluster (the Arrow per-bucket Gram kernel — each vector moves
    once, candidates never cross clusters; cluster count is the knob
    that bounds within-cluster quadratic work, exactly like LSH band
    width — see SCALING.md), and the component step is the O(log n)
    star contraction over surviving pairs. Deterministic end-to-end:
    quantizer, cosines, and canonical choice are all exact-int-derived,
    so the DuckDB oracle (recursive-CTE closure) reproduces the
    clustering bit-for-bit.

    r5 shape: the quantizer is the ONE-job map-side-combined model
    collect (_ivf_model_rows — the x20 template replacing the
    posexplode two-shuffle build), assignment is the ivf_assign kernel
    over RAW float vectors (no broadcast crossJoin, no k×dim
    interpreted cosine folds per row, no int_vec HOF on the scan), and
    the bucket pair kernel quantizes in-kernel too — every stage
    bit-identical to the previous formulation (same exact-int
    arithmetic; oracle unchanged and still green)."""
    from .clustering import connected_components
    from .vectorized import bucket_pair_cosines, ivf_assign_udf

    cents_rows, _ = _ivf_model_rows(emb, id_col, vec_col, k_clusters, seed,
                                    dim)
    asg = (emb.select(F.col(id_col), F.col(vec_col).alias("_v"))
           .withColumn("cid",
                       ivf_assign_udf(cents_rows)(F.col("_v"))))
    # one row per (vector, its single cluster) → the pair kernel sees
    # each vector exactly once; no cross-band dedup is needed
    buckets = asg.select(F.lit(0).alias("band_id"),
                         F.col("cid").alias("band_key"),
                         id_col, F.col("_v").alias("sv"))
    pairs = bucket_pair_cosines(buckets, id_col, threshold)
    comp = connected_components(emb.select(id_col), pairs,
                                id_col=id_col, src="vec_a", dst="vec_b")
    # cluster_size via ONE window on cluster_id instead of groupBy +
    # self-join: the join formulation recomputed the whole component
    # frame (vertices scan + label joins) twice and paid two exchanges
    # where the window pays one.
    from pyspark.sql import Window as W
    wc = W.partitionBy("cluster_id")
    return (comp
            .withColumn("cluster_size",
                        F.count(F.lit(1)).over(wc).cast("long"))
            .select(id_col, "cluster_id", "cluster_size",
                    (F.col(id_col) == F.col("cluster_id"))
                    .cast("int").alias("is_canonical")))


def hierarchical_assign(emb: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding", k_clusters: int = 16,
                        n_groups: int = 4, seed: int = 3,
                        dim: int = 64) -> DataFrame:
    """Two-level IVF assignment: (id, gid, cid) for every vector, with
    centroids grouped by ``cid % n_groups`` into super-centroids
    (integer-mean of member centroids — same two IEEE casts as the base
    quantizer) and each vector routed super-group-first. Cuts flat
    assignment's O(n·k·d) to O(n·(n_groups + k/n_groups)·d) — the term
    SCALING.md round-9 part 3 named as the residual once constant
    cluster occupancy forces k ∝ n; with n_groups ≈ √k that is O(n·√k·d)
    (the two-level coarse quantizer of Jégou et al.'s IVFADC lineage).
    Routing is approximate the way IVF probing is (a boundary vector
    may route to a neighboring group's member centroid) and
    deterministic end-to-end, so the DuckDB twin reproduces it
    bit-for-bit (oracle_hierarchical_assign_sql)."""
    from .vectorized import ivf_assign_hier_udf

    cents_rows, _ = _ivf_model_rows(emb, id_col, vec_col, k_clusters,
                                    seed, dim)
    a = ivf_assign_hier_udf(cents_rows, n_groups)
    return (emb.select(F.col(id_col), a(F.col(vec_col)).alias("_a"))
            .select(id_col, F.col("_a.gid").alias("gid"),
                    F.col("_a.cid").alias("cid")))


def oracle_hierarchical_assign_sql(*, dim: int = 64, k_clusters: int = 16,
                                   n_groups: int = 4,
                                   seed: int = 3) -> str:
    """DuckDB twin of hierarchical_assign — same hash-partition
    centroids, same init-by-``cid % g`` super-centroids, same single
    Lloyd refinement of the centroid→super membership, same two-level
    max-cosine routing with ties to the largest id."""
    from ..functions.hashing import oracle_md5_long
    bucket = (f"({oracle_md5_long('CAST(vec_id AS VARCHAR)', seed=seed)}"
              f" % {k_clusters})")
    c_to_s = (f"row_number() OVER (PARTITION BY c.cid ORDER BY "
              f"{oracle_qcos(oracle_idot('c.cv', 's.gv'), 'c.cn2', 's.gn2')}"
              f" DESC, s.gid DESC)")
    g_near = (f"row_number() OVER (PARTITION BY b.vec_id ORDER BY "
              f"{oracle_qcos(oracle_idot('b.sv', 's.gv'), 'b.n2', 's.gn2')}"
              f" DESC, s.gid DESC)")
    c_near = (f"row_number() OVER (PARTITION BY g.vec_id ORDER BY "
              f"{oracle_qcos(oracle_idot('b.sv', 'c.cv'), 'b.n2', 'c.cn2')}"
              f" DESC, c.cid DESC)")
    return f"""
    WITH b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2, {bucket} AS bucket
        FROM b0
    ), cent AS (
        SELECT bucket, i AS pos,
               CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM base, range(1, {dim + 1}) t(i)
        GROUP BY bucket, i
    ), cents AS (
        SELECT bucket AS cid, list(c ORDER BY pos) AS cv
        FROM cent GROUP BY bucket
    ), cents2 AS (
        SELECT cid, cv, {oracle_idot('cv', 'cv')} AS cn2 FROM cents
    ), sup0 AS (
        SELECT cid % {n_groups} AS gid, i AS pos,
               CAST(FLOOR(CAST(SUM(cv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS g
        FROM cents2, range(1, {dim + 1}) t(i)
        GROUP BY gid, i
    ), sups0 AS (
        SELECT gid, list(g ORDER BY pos) AS gv FROM sup0 GROUP BY gid
    ), sups0n AS (
        SELECT gid, gv, {oracle_idot('gv', 'gv')} AS gn2 FROM sups0
    ), casg AS (
        SELECT cid, gid FROM (
            SELECT c.cid, s.gid, {c_to_s} AS rn
            FROM cents2 c, sups0n s) WHERE rn = 1
    ), rsup0 AS (
        SELECT a.gid, i AS pos,
               CAST(FLOOR(CAST(SUM(c.cv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS g
        FROM cents2 c JOIN casg a USING (cid), range(1, {dim + 1}) t(i)
        GROUP BY a.gid, i
    ), rsups AS (
        SELECT gid, list(g ORDER BY pos) AS gv FROM rsup0 GROUP BY gid
    ), sups2 AS (
        SELECT gid, gv, {oracle_idot('gv', 'gv')} AS gn2 FROM rsups
    ), gasg AS (
        SELECT vec_id, gid FROM (
            SELECT b.vec_id, s.gid, {g_near} AS rn
            FROM base b, sups2 s) WHERE rn = 1
    )
    SELECT vec_id, gid, cid FROM (
        SELECT g.vec_id, g.gid, c.cid, {c_near} AS rn
        FROM gasg g
        JOIN base b ON b.vec_id = g.vec_id
        JOIN casg m ON m.gid = g.gid
        JOIN cents2 c ON c.cid = m.cid) WHERE rn = 1
    """


def train_ivf_centroids(emb: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding", k_clusters: int = 16,
                        seed: int = 3, dim: int = 64,
                        iters: int = 2) -> list:
    """Deterministic distributed Lloyd refinement of the base quantizer
    (VERDICT r9 #2): starting from the hash-init integer-mean centroids,
    each iteration (a) assigns every corpus vector to its max-cosine
    centroid with the Arrow kernel (derived-float contract, ties to the
    largest cid) and (b) recomputes each live centroid as the integer
    mean of its members — ``floor(exact int sum / count)``, the SAME two
    IEEE casts as the init build, computed driver-side from one
    map-side-combined (cid, cnt, dim-sums) aggregate of ≤k rows. A
    cluster left empty disappears (honest k-means behavior; cids keep
    their original bucket labels, so they stay stable across
    iterations). RNG-free end-to-end — hash init + deterministic
    argmax — so the DuckDB twin (oracle_trained_ivf_assign_sql)
    reproduces every iteration bit-for-bit.

    Scale shape: one pass per iteration — a corpus scan through the
    O(n·k·d) assign kernel plus a shuffle of k×(dim+1) longs. At the
    100 TB regime where k ∝ n, train on a sample (any deterministic
    id-predicate slice) and assign the full corpus once at the end;
    the routed assignment path (ivf_assign_hier_udf) cuts the per-pass
    cost to O(n·√k·d) once the trained centroids exist — training is
    exactly what makes the two-level router's grouping meaningful
    (on hash-init centroids flat/hier agreement is bounded by
    quantizer separation at ~57%; on trained, separated centroids the
    router is exact — pinned in tests/test_similarity.py).

    Returns ``cents_rows`` — [{cid, cv, cn2}] — the model format every
    IVF kernel consumes."""
    import math

    from .vectorized import ivf_assign_udf

    cents_rows, _ = _ivf_model_rows(emb, id_col, vec_col, k_clusters,
                                    seed, dim)
    sum_arr = _quantized_sums("_v", dim)
    for _ in range(max(0, iters)):
        asg = (emb.select(F.col(vec_col).alias("_v"))
               .withColumn("cid",
                           ivf_assign_udf(cents_rows)(F.col("_v"))))
        # ONE job per refinement pass (r14): the k×(dim+1)-long aggregate
        # is a KB-scale artifact; under AQE each pass paid the multi-job
        # stage-materialization dispatch (see _collect_no_aqe).
        rows = _collect_no_aqe(asg.groupBy("cid")
                               .agg(F.count(F.lit(1)).alias("cnt"), sum_arr))
        cents_rows = []
        for r in sorted(rows, key=lambda r: r["cid"]):
            cnt = float(r["cnt"])
            cv = [int(math.floor(float(s) / cnt)) for s in r["vec"]]
            cents_rows.append({"cid": int(r["cid"]), "cv": cv,
                               "cn2": sum(c * c for c in cv)})
    return cents_rows


def ivf_assign_from_model(emb: DataFrame, cents_rows: list, *,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """(id, cid) flat assignment against an ALREADY-TRAINED quantizer —
    the assign-many half of the train-once/assign-many split (VERDICT
    r10 #4, mirroring x42's ``build_ivfpq_model``). ``cents_rows`` is
    the [{cid, cv, cn2}] model :func:`train_ivf_centroids` returns (a
    ≤k-row driver-side artifact); each call is ONE corpus scan through
    the O(n·k·d) Arrow kernel, no training passes. At 100 TB this is
    the hot path: train once on a deterministic sample, then assign
    every ingest batch from the saved model."""
    from .vectorized import ivf_assign_udf

    return emb.select(
        F.col(id_col),
        ivf_assign_udf(cents_rows)(F.col(vec_col)).alias("cid"))


def trained_ivf_assign(emb: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", k_clusters: int = 16,
                       seed: int = 3, dim: int = 64,
                       iters: int = 2) -> DataFrame:
    """(id, cid) flat assignment of every vector against the
    Lloyd-trained quantizer — the registry surface of
    :func:`train_ivf_centroids`. Convenience composition of
    train-once + :func:`ivf_assign_from_model`; callers who assign
    more than once should hold the model and call the assign surface
    directly (re-training inside every assignment is the expensive
    form at scale)."""
    cents_rows = train_ivf_centroids(emb, id_col=id_col, vec_col=vec_col,
                                     k_clusters=k_clusters, seed=seed,
                                     dim=dim, iters=iters)
    return ivf_assign_from_model(emb, cents_rows, id_col=id_col,
                                 vec_col=vec_col)


def oracle_trained_ivf_assign_sql(*, dim: int = 64, k_clusters: int = 16,
                                  seed: int = 3, iters: int = 2) -> str:
    """DuckDB twin of trained_ivf_assign: the hash-init centroid build
    plus ``iters`` unrolled Lloyd iterations (assign via max-cosine
    row_number with ties to the largest cid; recompute via the same
    floor(int-sum/count) integer means), then the final assignment."""
    from ..functions.hashing import oracle_md5_long
    bucket = (f"({oracle_md5_long('CAST(vec_id AS VARCHAR)', seed=seed)}"
              f" % {k_clusters})")
    ctes = [f"""b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    )""", f"""base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2, {bucket} AS bucket
        FROM b0
    )""", f"""cell0 AS (
        SELECT bucket AS cid, i AS pos,
               CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM base, range(1, {dim + 1}) t(i)
        GROUP BY bucket, i
    )""", f"""m0 AS (
        SELECT cid, cv, {oracle_idot('cv', 'cv')} AS cn2 FROM (
            SELECT cid, list(c ORDER BY pos) AS cv
            FROM cell0 GROUP BY cid)
    )"""]
    for t in range(1, iters + 1):
        near = (f"row_number() OVER (PARTITION BY b.vec_id ORDER BY "
                f"{oracle_qcos(oracle_idot('b.sv', 'c.cv'), 'b.n2', 'c.cn2')}"
                f" DESC, c.cid DESC)")
        ctes.append(f"""a{t} AS (
        SELECT vec_id, cid FROM (
            SELECT b.vec_id, c.cid, {near} AS rn
            FROM base b, m{t - 1} c) WHERE rn = 1
    )""")
        ctes.append(f"""cell{t} AS (
        SELECT a.cid, i AS pos,
               CAST(FLOOR(CAST(SUM(b.sv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM base b JOIN a{t} a USING (vec_id), range(1, {dim + 1}) t(i)
        GROUP BY a.cid, i
    )""")
        ctes.append(f"""m{t} AS (
        SELECT cid, cv, {oracle_idot('cv', 'cv')} AS cn2 FROM (
            SELECT cid, list(c ORDER BY pos) AS cv
            FROM cell{t} GROUP BY cid)
    )""")
    final_near = (f"row_number() OVER (PARTITION BY b.vec_id ORDER BY "
                  f"{oracle_qcos(oracle_idot('b.sv', 'c.cv'), 'b.n2', 'c.cn2')}"
                  f" DESC, c.cid DESC)")
    return ("WITH " + ", ".join(ctes) + f"""
    SELECT vec_id, cid FROM (
        SELECT b.vec_id, c.cid, {final_near} AS rn
        FROM base b, m{iters} c) WHERE rn = 1
    """)


def oracle_semantic_dedup_sql(*, dim: int = 64, k_clusters: int = 16,
                              threshold: float = 0.5, seed: int = 3) -> str:
    from ..functions.hashing import oracle_md5_long

    from .clustering import oracle_dedup_clusters_sql
    bucket = (f"({oracle_md5_long('CAST(vec_id AS VARCHAR)', seed=seed)}"
              f" % {k_clusters})")
    nearest = (f"row_number() OVER (PARTITION BY b.vec_id ORDER BY "
               f"{oracle_qcos(oracle_idot('b.sv', 'c.cv'), 'b.n2', 'c.cn2')} DESC, "
               f"c.cid DESC)")
    cos = oracle_qcos(oracle_idot('x.sv', 'y.sv'), 'x.n2', 'y.n2')
    pairs_sql = f"""
    WITH b0 AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), base AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2, {bucket} AS bucket
        FROM b0
    ), cent AS (
        SELECT bucket, i AS pos,
               CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        FROM base, range(1, {dim + 1}) t(i)
        GROUP BY bucket, i
    ), cents AS (
        SELECT bucket AS cid, list(c ORDER BY pos) AS cv
        FROM cent GROUP BY bucket
    ), cents2 AS (
        SELECT cid, cv, {oracle_idot('cv', 'cv')} AS cn2 FROM cents
    ), asg AS (
        SELECT vec_id, cid FROM (
            SELECT b.vec_id, c.cid, {nearest} AS rn
            FROM base b, cents2 c) WHERE rn = 1
    )
    SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
    FROM (SELECT b.*, a.cid FROM base b JOIN asg a USING (vec_id)) x
    JOIN (SELECT b.*, a.cid FROM base b JOIN asg a USING (vec_id)) y
      ON x.cid = y.cid AND x.vec_id < y.vec_id
    WHERE {cos} >= {threshold}
    """
    return oracle_dedup_clusters_sql(pairs_sql, vertex_table="embeddings",
                                     id_col="vec_id")


def save_ivfpq_model(spark, model: dict, path: str) -> None:
    """Persist a build_ivfpq_model dict as a parquet table (generic rows:
    kind 0 = IVF centroid, 1 = PQ codebook entry, 2 = params as a JSON
    string) — the index artifact a nightly build writes so every search
    job loads KBs instead of re-training against the corpus."""
    import json as _json

    rows = ([(0, -1, int(r["cid"]), list(r["cv"]), int(r["cn2"]), None)
             for r in model["ivf_rows"]]
            + [(1, int(r["s"]), int(r["cid"]), list(r["cvec"]), 0, None)
               for r in model["pq_rows"]]
            + [(2, -1, -1, [], 0, _json.dumps(model["params"]))])
    (spark.createDataFrame(
        rows, "kind int, s int, cid long, vec array<long>, n2 long, "
              "params string")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_ivfpq_model(spark, path: str) -> dict:
    """Inverse of save_ivfpq_model; the loaded dict feeds encode_corpus
    and pq_search_from_codes unchanged (round-trip pinned by
    tests/test_similarity.py)."""
    import json as _json

    rows = spark.read.parquet(path).collect()
    return {
        "ivf_rows": sorted(({"cid": int(r["cid"]), "cv": list(r["vec"]),
                             "cn2": int(r["n2"])}
                            for r in rows if r["kind"] == 0),
                           key=lambda d: d["cid"]),
        "pq_rows": sorted(({"s": int(r["s"]), "cid": int(r["cid"]),
                            "cvec": list(r["vec"])}
                           for r in rows if r["kind"] == 1),
                          key=lambda d: (d["s"], d["cid"])),
        "params": _json.loads(next(r["params"] for r in rows
                                   if r["kind"] == 2)),
    }


def encode_corpus(emb: DataFrame, model: dict, *, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(id, cid, codes): the PERSISTED form of the IVF-PQ index — the
    coarse list id plus m PQ codes per vector (8 ints here vs dim floats:
    the byte bound that makes a 100 TB corpus searchable from a table a
    fraction of its size). One map-only pass over the corpus with both
    assignment kernels; write the result bucketed by ``cid`` and every
    later search scans codes, never embeddings."""
    p = model["params"]
    block = p["dim"] // p["m"]
    from .vectorized import ivf_assign_udf, pq_codes_udf
    # Stamp the code column with the params of the model that produced
    # it (ADVICE r4): column metadata survives the parquet round trip,
    # so pq_search_from_codes can refuse a codes table encoded under a
    # DIFFERENT model instead of silently scoring against the wrong
    # codebook rows.
    return (scale_out(emb, 8)
            .select(F.col(id_col), F.col(vec_col).alias("_v"))
            .withColumn("cid",
                        ivf_assign_udf(model["ivf_rows"])(F.col("_v")))
            .withColumn("codes",
                        pq_codes_udf(model["pq_rows"], p["m"], block)
                        (F.col("_v")))
            .select(id_col, "cid",
                    F.col("codes").alias("codes",
                                         metadata={"ivfpq_params": dict(p)})))


def pq_search_from_codes(codes: DataFrame, queries: DataFrame, model: dict,
                         *, id_col: str = "vec_id",
                         vec_col: str = "embedding", k: int = 5) -> DataFrame:
    """ADC top-k over the STORED code table (encode_corpus output):
    per-query distance tables are computed driver-side from the model's
    codebooks and the collected query vectors, and the scan sums table
    entries at each row's codes — raw corpus vectors are never read.
    Returns pq_topk's schema (query_id, neighbor_id, rank, approx_dist);
    equality with the fused raw-vector kernel is pinned by
    tests/test_similarity.py.

    Model/codes compatibility is VERIFIED, not assumed (ADVICE r4):
    encode_corpus stamps the code column's metadata with its model
    params — a mismatch raises here before any job runs; a codes table
    without the stamp (hand-built, or run through a metadata-stripping
    transform) is accepted, and the scoring kernel's membership check
    still raises on any code that is not a codebook cid (stale-model
    detection at the value level)."""
    from pyspark.sql import Window as W

    from .vectorized import pq_totals_from_codes_udf
    p = model["params"]
    if "codes" not in codes.columns:
        raise ValueError(
            "pq_search_from_codes: the codes table must carry an "
            "encode_corpus 'codes' column (array<int> PQ codes); got "
            f"columns {codes.columns}")
    stamped = codes.schema["codes"].metadata.get("ivfpq_params")
    if stamped is not None and dict(stamped) != dict(p):
        raise ValueError(
            f"pq_search_from_codes: codes table was encoded under model "
            f"params {dict(stamped)}, but the passed model has {dict(p)}")
    block = p["dim"] // p["m"]
    qrows = sorted(queries.select(F.col(id_col),
                                  int_vec(vec_col).alias("sv")).collect(),
                   key=lambda r: r[id_col])
    qids = [int(r[id_col]) for r in qrows]
    totals_udf = pq_totals_from_codes_udf(
        model["pq_rows"], [list(r["sv"]) for r in qrows], p["m"], block)
    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    scored = (codes.withColumn("_tot", totals_udf("codes"))
              .select(F.col(id_col).alias("neighbor_id"),
                      F.posexplode("_tot").alias("qi", "total"))
              .select(qid_arr[F.col("qi")].alias("query_id"),
                      "neighbor_id", "total")
              .filter(F.col("neighbor_id") != F.col("query_id")))
    wk = W.partitionBy("query_id").orderBy(F.col("total").asc(),
                                           F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"),
                    (F.col("total").cast("double")
                     / F.lit(PQ_SCALE * PQ_SCALE)).alias("approx_dist")))
