"""Training-data pipeline queries, part 2: temporal joins, corpus
sampling, sequence packing (x16-x19).

These extend plans/extensions.py's dedup/similarity/text family with
the remaining operations a large-scale training-data pipeline runs:
as-of feature attachment, windowed enrichment (range join), mixture
sampling, and context-window packing. Each query pairs a Spark-first
operator (operators/temporal.py, operators/sampling.py) with a DuckDB
oracle twin; the reference repo has none of these (its ETL is snapshot
pandas), so reference citations are per-operator design notes instead.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import oracle_md5_long
from ..functions.text import (
    oracle_fingerprint, oracle_token_count, token_count, tokens,
)
from ..operators.sampling import (
    exact_stratified_sample, oracle_exact_stratified_qualify,
    oracle_sequence_packing_cols, oracle_stratified_sample_where,
    oracle_temperature_resample_ctes, sequence_packing, stratified_sample,
    temperature_resample,
)
from ..operators.similarity import (
    ivf_topk, ivfpq_rerank_topk, oracle_hierarchical_assign_sql,
    oracle_ivf_topk_sql, oracle_ivfpq_rerank_sql, oracle_pq_topk_sql,
    oracle_semantic_dedup_sql, oracle_trained_ivf_assign_sql, pq_topk,
    semantic_dedup,
)
from ..operators.temporal import asof_join, range_join
from ..registry import query
from ..tables import load, scale_out

# ---------------------------------------------------------------------------
# x16 — as-of join: latest prior view per purchase, per user
# ---------------------------------------------------------------------------


@query(
    "x16_asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           p.ts AS purchase_ts, p.value AS purchase_value,
           v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def x16_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the most recent prior view by the same user
    (feature-attachment shape: "latest known state before t"). The
    operator is the union-tag + window sort-merge form — one shuffle on
    user_id, no candidate pairs (operators/temporal.py). Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    ev = load(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "event_id", "ts", "value"))
    out = asof_join(purchases, views, on="user_id",
                    left_ts="ts", right_ts="ts", right_prefix="view_")
    return out.select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("view_event_id").alias("view_id"), "view_ts", "view_value")


@query(
    "x29_asof_join_split",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           p.ts AS purchase_ts, p.value AS purchase_value,
           v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def x29_asof_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x16's as-of join through the HOT-KEY-SPLIT plan
    (split_width=7 days): windows partition by (user_id, time-bin) with
    a carry-in fix-up instead of user_id alone, so one user holding
    half the events no longer serializes onto a single partition's
    sort. Same oracle as x16 — the two plans must agree bit-for-bit
    (operators/temporal.py asof_join)."""
    ev = load(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "event_id", "ts", "value"))
    out = asof_join(purchases, views, on="user_id",
                    left_ts="ts", right_ts="ts", right_prefix="view_",
                    split_width=_dt.timedelta(days=7))
    return out.select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("view_event_id").alias("view_id"), "view_ts", "view_value")


# ---------------------------------------------------------------------------
# x17 — range join: clicks landing in 2-hour post-error windows
# ---------------------------------------------------------------------------


@query(
    "x17_range_join_windows",
    oracle="""
    WITH err AS (
        SELECT event_id AS error_id, user_id,
               ts AS w_start, ts + INTERVAL 2 HOUR AS w_end
        FROM events WHERE event_type = 'error'
    ), clk AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT err.error_id, err.user_id,
           COUNT(clk.ts) AS n_clicks,
           COALESCE(SUM(CAST(ROUND(clk.value * 100) AS BIGINT)), 0) / 100.0
               AS clicks_value
    FROM err LEFT JOIN clk
      ON clk.user_id = err.user_id
     AND clk.ts >= err.w_start AND clk.ts < err.w_end
    GROUP BY err.error_id, err.user_id
    """,
)
def x17_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: how many clicks (and their value) the same user
    produced in the 2 hours after it. The inequality join runs as
    bin-and-verify (operators/temporal.py): intervals explode into
    2-hour bins, the join is an AQE-plannable equi-join on
    (user_id, bin), containment is an exact filter — never a
    BroadcastNestedLoopJoin. Left-outer semantics come from re-joining
    the aggregate to the interval table (zero-click windows count 0)."""
    ev = load(spark, sf_dir, "events")
    errors = (ev.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"), "user_id",
                      F.col("ts").alias("w_start"),
                      (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    pairs = range_join(clicks, errors, on="user_id", point_ts="ts",
                       start_col="w_start", end_col="w_end",
                       bin_width=_dt.timedelta(hours=2))
    agg = (pairs.groupBy("error_id", "user_id")
           .agg(F.count(F.lit(1)).alias("n_clicks"),
                (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
                .alias("clicks_value")))
    return (errors.select("error_id", "user_id")
            .join(agg, ["error_id", "user_id"], "left")
            .select("error_id", "user_id",
                    F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
                    F.coalesce("clicks_value", F.lit(0.0)).alias("clicks_value")))


# ---------------------------------------------------------------------------
# x18 — stratified mixture sampling of the document corpus
# ---------------------------------------------------------------------------

MIX_RATES = {"en": 0.5, "fr": 0.3, "de": 0.3, "es": 0.1, "zh": 0.1}
MIX_SEED = 7


@query(
    "x18_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {oracle_stratified_sample_where(strata_sql='lang', rates=MIX_RATES,
                                          key_sql='doc_id', seed=MIX_SEED)}
    """,
)
def x18_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-mixture sample: keep 50% of English, 30%
    of French/German, 10% of Spanish/Chinese, decided by a portable hash
    of doc_id (never rand()) — rerunning the pipeline, on either engine,
    keeps exactly the same documents. Scan-local filter: zero shuffles
    (operators/sampling.py)."""
    d = load(spark, sf_dir, "documents")
    return (stratified_sample(d, strata_col="lang", rates=MIX_RATES,
                              key_col="doc_id", seed=MIX_SEED)
            .select("doc_id", "lang", "source", "n_chars"))


# ---------------------------------------------------------------------------
# x19 — sequence packing into fixed token budgets
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048

_PACK_ID_SQL, _PACK_OFFSET_SQL = oracle_sequence_packing_cols(
    group_sql="source", order_sql="doc_id",
    tokens_sql=oracle_token_count("text"), budget=PACK_BUDGET)


@query(
    "x19_sequence_packing",
    oracle=f"""
    SELECT doc_id, source, {oracle_token_count('text')} AS n_tokens,
           {_PACK_ID_SQL} AS pack_id, {_PACK_OFFSET_SQL} AS pack_offset
    FROM documents
    """,
)
def x19_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of each source shard into 2048-token
    context windows: (pack_id, pack_offset) per document, shards packed
    independently and in parallel — one window per shard key, no global
    sort (operators/sampling.py)."""
    d = load(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text"))
    return (sequence_packing(d, group_col="source", order_col="doc_id",
                             tokens_col="n_tokens", budget=PACK_BUDGET)
            .select("doc_id", "source", "n_tokens", "pack_id", "pack_offset"))


# ---------------------------------------------------------------------------
# x20 — IVF ANN: coarse-quantized inverted-list search
# ---------------------------------------------------------------------------


@query("x20_ivf_ann", oracle=oracle_ivf_topk_sql())
def x20_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over the embeddings corpus: deterministic coarse
    quantizer (hash-partition init + quantized mean centroids + one
    nearest-centroid refinement), nprobe=6 of 16 inverted lists searched
    per query, exact cosine rank inside the probed lists
    (operators/similarity.py — third tier after x07 brute-force and
    x08 SRP-LSH). Runs the fused Arrow path (r5): the model is ONE
    map-side-combined aggregate collected in one non-AQE job, the search
    ONE kernel stage (assign → probe check → cosine) + the top-k window
    — bit-equal to the DuckDB oracle (tests/test_oracle_parity.py)."""
    return ivf_topk(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x21 — end-to-end corpus curation: quality → dedup → mix → pack
# ---------------------------------------------------------------------------

MIN_TOKENS = 10

_CUR_PACK_ID, _CUR_PACK_OFFSET = oracle_sequence_packing_cols(
    group_sql="source", order_sql="doc_id", tokens_sql="n_tokens",
    budget=PACK_BUDGET)


@query(
    "x21_corpus_curation",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang, source,
               {oracle_token_count('text')} AS n_tokens,
               {oracle_fingerprint('text')} AS fp
        FROM documents
        WHERE {oracle_token_count('text')} >= {MIN_TOKENS}
    ), dq AS (
        SELECT doc_id, lang, source, n_tokens FROM (
            SELECT q.*, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM q)
        WHERE doc_id = keep_id
    ), s AS (
        SELECT * FROM dq
        WHERE {oracle_stratified_sample_where(strata_sql='lang',
                                              rates=MIX_RATES,
                                              key_sql='doc_id',
                                              seed=MIX_SEED)}
    )
    SELECT doc_id, lang, source, n_tokens,
           {_CUR_PACK_ID} AS pack_id, {_CUR_PACK_OFFSET} AS pack_offset
    FROM s
    """,
)
def x21_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data pipeline, end to end in ONE lazy plan:
    quality floor (>= 10 tokens) → exact dedup (canonical = min doc_id
    per content fingerprint) → deterministic language-mixture sample →
    context-window packing of the survivors. Every stage is a composition
    of the package's operators; Catalyst fuses the quality filter and
    fingerprint into the scan, the dedup is one shuffle on the 60-bit
    fingerprint, the sample is a map-side filter, and packing is one
    window per source shard. Order matters and is the real pipeline
    order: pack offsets are computed over the post-sample corpus."""
    from ..operators.curation import curate_corpus
    return curate_corpus(scale_out(load(spark, sf_dir, "documents")),
                         rates=MIX_RATES, min_tokens=MIN_TOKENS,
                         budget=PACK_BUDGET, seed=MIX_SEED)


# ---------------------------------------------------------------------------
# x30 — int8 embedding quantization (vector-storage compression)
# ---------------------------------------------------------------------------
# Symmetric per-vector int8: scale = max|x| / 127, q = round(x / scale).
# The storage op a 100 TB vector corpus runs before writing its index
# (4x smaller than float32, 8x than float64); scan-local HOFs, zero
# shuffles. Rounding is the repo's engine-agnostic floor(x + 0.5) scheme
# (works for negatives too: floor(-3.2 + 0.5) = -3 on both engines —
# round-half-up, not banker's). Output is posexploded to scalar rows so
# the driver's value-hash covers every quantized element.


@query(
    "x30_embedding_quantize",
    oracle="""
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), m AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS mx
        FROM base
    ), q AS (
        SELECT vec_id,
               CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127.0 END AS scale,
               list_transform(v, x -> CAST(CASE WHEN mx = 0 THEN 0
                   ELSE floor(x * 127.0 / mx + 0.5) END AS INTEGER)) AS qv
        FROM m
    )
    SELECT vec_id, scale, u.pos, u.q8
    FROM (SELECT vec_id, scale,
                 unnest(list_transform(range(1, len(qv) + 1),
                        i -> {'pos': CAST(i - 1 AS INTEGER), 'q8': qv[i]}))
                     AS u
          FROM q)
    """,
)
def x30_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column:
    (vec_id, scale, pos, q8). Staged projections keep each HOF computed
    once; posexplode_outer + null-drop dodges the inferred-generate
    filter (operators/dedup.py decontaminate); zero-vector rows quantize
    to all-zero with scale 0."""
    d = (scale_out(load(spark, sf_dir, "embeddings"))
         .withColumn("_v", F.transform("embedding",
                                       lambda x: x.cast("double")))
         .withColumn("_mx", F.array_max(
             F.transform("_v", lambda x: F.abs(x))))
         .withColumn("_q", F.transform(
             "_v",
             lambda x: F.when(F.col("_mx") == 0, F.lit(0))
             .otherwise(F.floor(x * F.lit(127.0) / F.col("_mx")
                                + F.lit(0.5))).cast("int"))))
    return (d.select(
        "vec_id",
        F.when(F.col("_mx") == 0, F.lit(0.0))
        .otherwise(F.col("_mx") / F.lit(127.0)).alias("scale"),
        F.posexplode_outer("_q").alias("pos", "q8"))
        .filter(F.col("q8").isNotNull()))


# ---------------------------------------------------------------------------
# x31 — overlapping document chunking (context-window / RAG chunker)
# ---------------------------------------------------------------------------
# Fixed-size token windows with overlap: chunk i covers tokens
# [1 + i*stride, 1 + i*stride + size) (1-based), stride = size - overlap;
# start positions run to max(n_tokens - overlap, 1) so every token is
# covered and a short doc yields exactly one chunk. Scan-local array ops
# (split once, slice per chunk), zero shuffles.

CHUNK_SIZE = 32
CHUNK_OVERLAP = 8
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


@query(
    "x31_document_chunking",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(toks) - {CHUNK_OVERLAP}, 1) + 1,
                         {_STRIDE}),
                   s -> array_to_string(
                       list_slice(toks, s, s + {CHUNK_SIZE} - 1), ' '))
                   AS chunks
        FROM t
    )
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_id,
           chunks[i] AS chunk_text
    FROM (SELECT doc_id, chunks, unnest(range(1, len(chunks) + 1)) AS i
          FROM c)
    """,
)
def x31_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks per document — the
    context-window segmentation a training/RAG pipeline runs before
    tokenization: (doc_id, chunk_id, chunk_text), chunk i starting at
    token i*stride with ``CHUNK_OVERLAP`` tokens shared between
    neighbors. One split per doc (staged), slices per chunk, zero
    shuffles; posexplode_outer + null-drop dodges the inferred-generate
    filter."""
    d = (scale_out(load(spark, sf_dir, "documents"))
         .withColumn("_toks", F.split("text", " "))
         .withColumn("_starts", F.sequence(
             F.lit(1),
             F.greatest(F.size("_toks") - F.lit(CHUNK_OVERLAP), F.lit(1)),
             F.lit(_STRIDE)))
         .withColumn("_chunks", F.transform(
             "_starts",
             lambda s: F.array_join(F.slice(F.col("_toks"), s, CHUNK_SIZE),
                                    " "))))
    return (d.select("doc_id",
                     F.posexplode_outer("_chunks").alias("chunk_id",
                                                         "chunk_text"))
            .filter(F.col("chunk_text").isNotNull())
            .select("doc_id", F.col("chunk_id").cast("int").alias("chunk_id"),
                    "chunk_text"))


# ---------------------------------------------------------------------------
# x36 — product-quantization ADC top-k (memory-bounded ANN)
# ---------------------------------------------------------------------------


@query("x36_pq_ann", oracle=oracle_pq_topk_sql())
def x36_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors for the first 10 vectors via PQ-ADC:
    8 subspace codebooks of 16 integer-mean centroids, per-vector codes
    assigned by a map-side array fold, scoring = broadcast per-query
    distance tables joined against the 8-byte code rows — the scan never
    rereads the raw vectors (operators/similarity.py pq_topk; completes
    the brute-force → SRP → IVF → PQ family)."""
    return pq_topk(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x42 — IVF-PQ search with exact re-rank (the production ANN composite)
# ---------------------------------------------------------------------------


@query("x42_ivfpq_rerank", oracle=oracle_ivfpq_rerank_sql())
def x42_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composite that completes the ladder
    (x07 brute → x08 SRP → x20 IVF → x36 PQ): IVF probing prunes the
    corpus to 6 of 16 inverted lists per query, PQ-ADC ranks the probed
    candidates from 8-byte codes, the best 20 per query are re-ranked by
    exact quantized cosine, and the top 5 ship with BOTH the exact
    cosine and the ADC total that selected them — the refine step a
    disk-resident index pays exactly r_cand vector reads for
    (operators/similarity.py ivfpq_rerank_topk)."""
    return ivfpq_rerank_topk(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x37 — semantic deduplication (IVF clusters → cosine pairs → components)
# ---------------------------------------------------------------------------


@query("x37_semantic_dedup", oracle=oracle_semantic_dedup_sql())
def x37_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding corpus: the
    deterministic IVF quantizer clusters the space, same-cluster pairs
    with quantized cosine >= 0.5 are semantic duplicates, connected
    components give the duplicate groups, and the minimum id is
    canonical — (vec_id, cluster_id, cluster_size, is_canonical), the
    embedding-space twin of x15's lexical dedup clusters
    (operators/similarity.py semantic_dedup; Abbas et al. 2023)."""
    return semantic_dedup(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x38 — temperature-flattened mixture resampling
# ---------------------------------------------------------------------------


@query(
    "x38_temperature_resample",
    oracle=f"""
    WITH {oracle_temperature_resample_ctes(strata_sql='lang',
                                           key_sql='doc_id')}
    SELECT d.doc_id, d.lang, t.stratum_count, t.keep_threshold
    FROM documents d JOIN tthr t ON t.strata = d.lang
    WHERE ({oracle_md5_long("CAST(doc_id AS VARCHAR)", seed=13)} % 10000)
          < t.keep_threshold
    """,
)
def x38_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt-temperature mixture rebalancing over the documents corpus by
    language: the head language keeps base_rate=0.5, every smaller
    stratum keeps min(1, 0.5*sqrt(c_max/c_s)) — deterministic md5-bucket
    membership, thresholds from exact integer counts (sqrt is the one
    fractional power that is correctly rounded in every engine), corpus
    never shuffles (operators/sampling.py temperature_resample)."""
    return (temperature_resample(load(spark, sf_dir, "documents"),
                                 strata_col="lang", key_col="doc_id")
            .select("doc_id", "lang", "stratum_count", "keep_threshold"))


# ---------------------------------------------------------------------------
# x39 — exact-count stratified sample (k rows per stratum, deterministic)
# ---------------------------------------------------------------------------

_X39_RANK, _X39_QUALIFY = oracle_exact_stratified_qualify(
    strata_sql="lang", key_sql="doc_id", k=50)


@query(
    "x39_exact_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, CAST({_X39_RANK} AS INTEGER) AS sample_rank
    FROM documents
    QUALIFY {_X39_RANK} {_X39_QUALIFY}
    """,
)
def x39_exact_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 documents per language, deterministically chosen by the
    md5-bucket order — the exact-count companion to x18's rate-based
    sample. Spark side is the two-phase bounded-state top-k (per-
    partition k, then k of the survivors, broadcast fetch-back), never a
    full-stratum window sort (operators/sampling.py
    exact_stratified_sample)."""
    return (exact_stratified_sample(load(spark, sf_dir, "documents"),
                                    strata_col="lang", key_col="doc_id",
                                    k=50)
            .select("doc_id", "lang", "sample_rank"))


# ---------------------------------------------------------------------------
# x58 — deterministic negative-pair sampling (contrastive negatives)
# ---------------------------------------------------------------------------

_NEG_K = 3
_NEG_SEED = 31


def _oracle_negative_pairs_sql() -> str:
    from ..functions.hashing import oracle_md5_long
    from ..operators.similarity import (
        oracle_idot, oracle_int_vec, oracle_qcos,
    )
    h = oracle_md5_long("CAST(a.vec_id AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)",
                        seed=_NEG_SEED)
    return f"""
    WITH n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vec FROM embeddings
    ), base AS (
        SELECT vec_id, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), sv2 AS (
        SELECT vec_id, sv, {oracle_idot('sv', 'sv')} AS n2 FROM base
    ), pairs AS (
        SELECT a.vec_id AS anchor_id, CAST(k.k AS INTEGER) AS k,
               (({h}) % n.n_vec + CASE WHEN ({h}) % n.n_vec = a.vec_id
                                       THEN 1 ELSE 0 END) % n.n_vec
                   AS negative_id
        FROM (SELECT vec_id FROM embeddings) a
        CROSS JOIN (SELECT unnest(range({_NEG_K})) AS k) k
        CROSS JOIN n
    )
    SELECT p.anchor_id, p.k, p.negative_id,
           {oracle_qcos(oracle_idot('x.sv', 'y.sv'), 'x.n2', 'y.n2')}
               AS cosine
    FROM pairs p
    JOIN sv2 x ON x.vec_id = p.anchor_id
    JOIN sv2 y ON y.vec_id = p.negative_id
    """


@query("x58_negative_pairs", oracle=_oracle_negative_pairs_sql())
def x58_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor draws K pseudo-random partners via the portable hash
    (hash(anchor:k) mod N, bumped off the anchor itself), and each
    pair's quantized cosine rides along so a curriculum can split easy
    from hard negatives. The standard in-batch-negative alternative is
    nondeterministic by construction; this form is reproducible across
    engines and runs (the property a training-data LINEAGE needs).
    Scale shape: the corpus-size scalar is ONE broadcast row, partner
    ids are map-side arithmetic, and the only shuffles are the two
    id-keyed joins that fetch anchor/negative vectors — no sampling
    state, no RNG, no skew (hash-uniform partners)."""
    from ..functions.hashing import md5_long
    from ..operators.similarity import idot, int_vec

    emb = load(spark, sf_dir, "embeddings")
    n_row = emb.agg(F.count(F.lit(1)).alias("n_vec"))
    sv2 = (scale_out(emb)
           .select("vec_id", int_vec("embedding").alias("sv"))
           .withColumn("n2", idot("sv", "sv")))
    h = md5_long(
        F.concat(F.col("vec_id").cast("string"), F.lit(":"),
                 F.col("k").cast("string")), seed=_NEG_SEED)
    raw = h % F.col("n_vec")
    pairs = (emb.select("vec_id")
             .crossJoin(F.broadcast(n_row))
             .select("vec_id", "n_vec",
                     F.explode(F.array(*[F.lit(k).cast("int")
                                         for k in range(_NEG_K)])).alias("k"))
             .select(F.col("vec_id").alias("anchor_id"), "k",
                     (raw + F.when(raw == F.col("vec_id"), 1).otherwise(0))
                     .alias("_shift"), "n_vec")
             .select("anchor_id", "k",
                     (F.col("_shift") % F.col("n_vec")).alias("negative_id")))
    x = sv2.select(F.col("vec_id").alias("anchor_id"),
                   F.col("sv").alias("xa"), F.col("n2").alias("na"))
    y = sv2.select(F.col("vec_id").alias("negative_id"),
                   F.col("sv").alias("yb"), F.col("n2").alias("nb"))
    return (pairs.join(x, "anchor_id").join(y, "negative_id")
            .select("anchor_id", "k", "negative_id",
                    (idot("xa", "yb").cast("double")
                     / (F.sqrt(F.col("na").cast("double"))
                        * F.sqrt(F.col("nb").cast("double"))))
                    .alias("cosine")))


# ---------------------------------------------------------------------------
# x68 — span-corruption pretraining pairs (T5-style example construction)
# ---------------------------------------------------------------------------
# Deterministic denoising-objective construction (Raffel et al. 2020,
# "Exploring the Limits of Transfer Learning...", the T5 span-corruption
# objective — here the single-token-mask unit variant): token i of doc d
# is masked iff md5(d:i) lands in the corruption rate, the input keeps a
# sentinel at each masked position, and the target is the masked-out
# token sequence. Everything is array HOFs over the token array —
# scan-local, ZERO shuffles, reproducible byte-for-byte across runs and
# engines (the property an RNG-based masker cannot give a resumable
# 100 TB job).

_CORRUPT_MOD = 6  # ~1/6 of tokens masked
_SENTINEL = "<X>"


def _mask_hash_sql() -> str:
    """md5-to-bigint over 'doc:pos' via the shared oracle helper, so the
    hex-digit width can never drift from the Spark side's md5_long."""
    from ..functions.hashing import oracle_md5_long
    return oracle_md5_long(
        "(CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR))")


@query(
    "x68_span_corruption_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), m AS (
        SELECT doc_id, toks,
               list_transform(range(1, len(toks) + 1),
                   i -> {_mask_hash_sql()} % {_CORRUPT_MOD} = 0) AS mask
        FROM t
    )
    SELECT doc_id,
           array_to_string(list_transform(range(1, len(toks) + 1),
               i -> CASE WHEN mask[i] THEN '{_SENTINEL}'
                         ELSE toks[i] END), ' ') AS input_text,
           coalesce(array_to_string([toks[i]
                            FOR i IN range(1, len(toks) + 1)
                            IF mask[i]], ' '), '') AS target_text,
           CAST(len([x FOR x IN mask IF x]) AS BIGINT) AS n_masked
    FROM m
    """,
)
def x68_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption (input, target) pair construction for denoising
    pretraining: hash-deterministic token masks (md5(doc:pos) — no RNG,
    so any shard re-executes identically), sentinel-substituted input,
    masked-token target, all via codegen'd array HOFs on one scan.
    Output: (doc_id, input_text, target_text, n_masked)."""
    from ..functions.hashing import md5_long

    toks = tokens("text")
    d = (scale_out(load(spark, sf_dir, "documents"))
         .select("doc_id", toks.alias("toks"))
         .withColumn(
             "mask",
             F.transform(
                 F.sequence(F.lit(0), F.size("toks") - 1),
                 lambda i: md5_long(
                     F.concat(F.col("doc_id").cast("string"),
                              F.lit(":"), i.cast("string")))
                 % _CORRUPT_MOD == 0)))
    # the same 0-based index sequence the mask transform iterates — any
    # change to the index range must hit both
    idx = F.sequence(F.lit(0), F.size("toks") - 1)
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(idx, lambda i: F.when(F.element_at("mask", i + 1),
                                              F.lit(_SENTINEL))
                        .otherwise(F.element_at("toks", i + 1))), " ")
        .alias("input_text"),
        F.array_join(
            F.transform(
                F.filter(idx, lambda i: F.element_at("mask", i + 1)),
                lambda i: F.element_at("toks", i + 1)), " ")
        .alias("target_text"),
        F.size(F.filter("mask", lambda m: m)).cast("long")
        .alias("n_masked"))


# ---------------------------------------------------------------------------
# x79 — two-level (hierarchical) IVF assignment
# ---------------------------------------------------------------------------


@query("x79_hierarchical_ivf_assign",
       oracle=oracle_hierarchical_assign_sql() + " ORDER BY vec_id")
def x79_hierarchical_ivf_assign(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Two-level IVF routing over the embedding corpus: every vector's
    (super-group, centroid) assignment with centroids grouped into
    integer-mean super-centroids and max-cosine routing at both levels
    (operators/similarity.py hierarchical_assign). This is the
    O(n·√k·d) assignment tier SCALING.md round-9 named as the residual
    once constant cluster occupancy forces k ∝ n — at 100 TB the
    coarse quantizer has ~10^5-10^6 centroids and flat O(n·k·d)
    assignment dominates everything else in the SemDeDup/IVF family.
    Deterministic end-to-end (exact-int super-centroids, derived-float
    cosines, ties to largest id), so the full two-level routing is
    oracle-checked bit-for-bit."""
    from ..operators.similarity import hierarchical_assign

    return (hierarchical_assign(scale_out(load(spark, sf_dir,
                                               "embeddings")))
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# x80 — Lloyd-trained IVF quantizer (assignment after 2 refinements)
# ---------------------------------------------------------------------------


@query("x80_trained_ivf_assign",
       oracle=oracle_trained_ivf_assign_sql() + " ORDER BY vec_id")
def x80_trained_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat assignment against the Lloyd-TRAINED coarse quantizer
    (operators/similarity.py train_ivf_centroids, 2 refinement passes):
    hash-init integer-mean centroids, then per pass a max-cosine
    assignment of the whole corpus and an integer-mean recompute of
    every live centroid (empty clusters drop). On hash-init centroids
    the x79 two-level router's agreement with flat assignment is
    bounded by quantizer separation; on trained, separated centroids
    it is exact (pinned in tests/test_similarity.py). No operator
    routes by default: training does not create separation the data
    lacks (SCALING.md round-10 part 3). RNG-free and exact-int
    throughout, so both unrolled iterations are oracle-checked
    bit-for-bit."""
    from ..operators.similarity import trained_ivf_assign

    return (trained_ivf_assign(scale_out(load(spark, sf_dir, "embeddings")))
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# x81 — hybrid retrieval: BM25 ⊕ dense cosine via reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 20


@query("x81_rrf_hybrid_retrieval",
       oracle=__import__(
           "data_pipeline_foundations_spark.operators.retrieval",
           fromlist=["oracle_rrf_hybrid_sql"],
       ).oracle_rrf_hybrid_sql(
           ("spark", "join", "window", "scan", "merge", "vector"),
           k_sparse=_RRF_K, k_dense=_RRF_K, k=_RRF_K)
       + " ")
def x81_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid first-stage retrieval (operators/retrieval.py rrf_fuse):
    the BM25 top-20 keyword list over documents and the brute-cosine
    top-20 of query vector 0 over embeddings, fused with reciprocal-rank
    fusion — floor(1e6/(60+rank)) per list, summed. The production
    pattern for corpus curation and RAG indexing: sparse catches exact
    terminology, dense catches paraphrase, RRF promotes agreement
    without requiring either side's score calibration. Both retrievers
    keep their own scale shape (postings-pruned BM25 shuffle; broadcast
    query × corpus scan with a per-query top-k reduction); the fusion
    itself is a top-k-sized full-outer join — driver-free, broadcast
    weight."""
    from pyspark.sql import Window as W

    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import cosine_topk

    sparse = (bm25_topk(load(spark, sf_dir, "documents"),
                        ("spark", "join", "window", "scan", "merge",
                         "vector"), _RRF_K)
              .withColumn("rank", F.row_number().over(
                  W.orderBy(F.col("score").desc(), "doc_id"))))
    dense = (cosine_topk(load(spark, sf_dir, "embeddings"),
                         n_queries=1, k=_RRF_K)
             .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return rrf_fuse(sparse, dense, k=_RRF_K).orderBy(
        F.col("rrf_score").desc(), "doc_id")
