"""Training-data pipeline operators (dedup, similarity, text analysis,
multimodal) over documents/embeddings/events. Filled in incrementally;
each gets a registry entry + oracle where SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetime_ops import micros_between
from ..functions.text import (
    canonical_url, fingerprint, oracle_fingerprint, oracle_stopword_count,
    oracle_token_count, stopword_count, token_count, tokens, url_host,
)
from ..operators.clustering import dedup_clusters, oracle_dedup_clusters_sql
from ..operators.dedup import (
    minhash_lsh_pairs, ngram_containment_pairs, ngram_jaccard_pairs,
    oracle_minhash_lsh_sql, oracle_ngram_containment_sql,
    oracle_ngram_jaccard_sql, oracle_shingle_hashes, oracle_simhash_expr,
    oracle_simhash_pairs_sql, simhash_pairs, with_shingle_hashes, with_simhash,
)
from ..operators.similarity import (
    cosine_near_dup_pairs, cosine_topk, oracle_cosine_near_dup_sql,
    oracle_cosine_topk_sql, oracle_srp_neighbors_sql, srp_bucket_neighbors,
)
from ..registry import query
from ..tables import load, scale_out


@query(
    "x01_dedup_exact",
    oracle=f"""
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_count,
           {oracle_fingerprint('text')} AS fp
    FROM documents
    GROUP BY {oracle_fingerprint('text')}
    """,
)
def x01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint hash-groupBy: canonical doc per
    duplicate cluster + cluster size. At 100 TB: one shuffle on a 60-bit
    key, partial-agg'd map-side; the fingerprint is computed in-scan."""
    d = scale_out(load(spark, sf_dir, "documents"))
    return (
        d.withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keep_doc_id", "dup_count", "fp")
    )


@query(
    "x02_text_quality",
    oracle=f"""
    SELECT doc_id,
           {oracle_token_count('text')} AS n_tokens,
           {oracle_stopword_count('text')} AS n_stopwords,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST(FLOOR({oracle_stopword_count('text')} * 1000000.0 / {oracle_token_count('text')} + 0.5) AS BIGINT) / 1000000.0 AS stopword_ratio
    FROM documents
    """,
)
def x02_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality features: token count, stopword count/ratio, length —
    all JVM-side array/higher-order functions, no Python UDF."""
    d = scale_out(load(spark, sf_dir, "documents"))
    nt = token_count("text")
    ns = stopword_count("text")
    return d.select(
        "doc_id",
        nt.alias("n_tokens"),
        ns.alias("n_stopwords"),
        F.length("text").cast("long").alias("n_chars_measured"),
        (F.floor(ns * F.lit(1000000.0) / nt + F.lit(0.5)) / F.lit(1000000.0)).alias("stopword_ratio"),
    )


# ---------------------------------------------------------------------------
# Dedup family (operators/dedup.py)
# ---------------------------------------------------------------------------
@query("x03_dedup_minhash_lsh", oracle=oracle_minhash_lsh_sql())
def x03_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs: scan-local 8-hash signatures (shingle →
    md5 → array_min, zero shuffle), 4×2 banding for candidates, estimate
    filter >= 0.5. The O(n²) pair space is never materialized."""
    return minhash_lsh_pairs(load(spark, sf_dir, "documents"))


@query("x04_simhash_signatures",
       oracle=f"SELECT doc_id, {oracle_simhash_expr('text')} AS simhash FROM documents")
def x04_simhash_signatures(spark, sf_dir):
    """Per-document 64-bit SimHash (token-majority bits), scan-local.
    Bits 60-63 are structurally zero (60-bit token hashes)."""
    return (with_simhash(scale_out(load(spark, sf_dir, "documents")), "text")
            .select("doc_id", "simhash"))


@query("x05_simhash_near_dups", oracle=oracle_simhash_pairs_sql())
def x05_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs via byte-banding + hamming<=6 filter.
    Registered form (r11): 64-bit signature, 8 bands, auto 2-band
    combination index — the configuration that survives 5M docs
    (SCALING.md r10 part 5); 32-bit signatures take the single-band
    index automatically."""
    return simhash_pairs(load(spark, sf_dir, "documents"))


@query("x06_ngram_jaccard", oracle=oracle_ngram_jaccard_sql())
def x06_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard over an inverted index with rare-shingle
    blocking (df<=20) — candidate volume bounded, intersections exact."""
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search (operators/similarity.py)
# ---------------------------------------------------------------------------
@query("x07_cosine_topk", oracle=oracle_cosine_topk_sql())
def x07_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 10 query vectors: broadcast
    queries, left-fold double dots (bit-stable), per-query top-k window."""
    return cosine_topk(load(spark, sf_dir, "embeddings"))


@query("x08_srp_ann", oracle=oracle_srp_neighbors_sql())
def x08_srp_ann(spark, sf_dir):
    """ANN via signed-random-projection buckets (16 deterministic
    hyperplanes): cosine ranking restricted to same-bucket candidates —
    the scale path where the cross join is replaced by a bucket equi-join."""
    return srp_bucket_neighbors(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Event-stream queries (batch forms of the streaming/ module's operators)
# ---------------------------------------------------------------------------
@query(
    "s01_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def s01_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time window aggregation — the batch twin of
    streaming/windowed.py (same F.window spec drives the readStream
    variant; watermarking only changes late-data handling, not results on
    a closed input)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / F.lit(100.0))
             .alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


@query(
    "s02_sessionization",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, event_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_no
    """,
)
def s02_sessionization(spark, sf_dir):
    """Sessionization: 30-min-gap sessions via lag + running sum (the
    standard batch shape; the streaming twin is session_window). Ordering
    tie-broken by event_id for cross-engine determinism."""
    from pyspark.sql import Window as W
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = micros_between("ts", F.lag("ts").over(w))
    new_session = F.when(gap_us.isNull() | (gap_us > 1800 * 1000000), 1).otherwise(0)
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        ev.withColumn("session_no", F.sum(new_session).over(run).cast("long"))
        .groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
    )


@query(
    "s03_json_extraction",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    WHERE props IS NOT NULL
    """,
)
def s03_json_extraction(spark, sf_dir):
    """Semi-structured JSON property extraction (P7 null predicate + JSON
    path) — get_json_object stays JVM-side."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.filter(F.col("props").isNotNull())
        .select("event_id", "event_type", k.alias("k_value"),
                F.when(k >= 50, "high").otherwise("low").alias("k_band"))
    )


@query(
    "s04_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
)
def s04_session_window(spark, sf_dir):
    """Native session windows (F.session_window, 30-min gap): the SAME
    operator drives the streaming variant with a watermark — Spark merges
    overlapping per-event windows into gap-separated sessions. The oracle
    derives identical sessions via the lag/cumsum construction (session
    end = last event + gap, matching session_window.end)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )


# ---------------------------------------------------------------------------
# Language ID heuristic + multimodal plumbing
# ---------------------------------------------------------------------------
_LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "auf"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
}
_LANG_ORDER = ("en", "es", "de", "fr")  # deterministic argmax tie order


@query(
    "x09_language_id",
    oracle=(
        "SELECT doc_id, "
        + ", ".join(
            f"CAST(len(list_filter(string_split(text, ' '), "
            f"t -> list_contains([{', '.join(repr(w) for w in _LANG_STOPWORDS[lg])}], t))) AS BIGINT) AS score_{lg}"
            for lg in _LANG_ORDER
        )
        + ", CASE "
        + " ".join(
            f"WHEN {' AND '.join(f'score_{lg} >= score_{other}' for other in _LANG_ORDER if other != lg)} THEN '{lg}'"
            for lg in _LANG_ORDER
        )
        + " END AS lang_pred FROM (SELECT doc_id, text, "
        + ", ".join(
            f"len(list_filter(string_split(text, ' '), "
            f"t -> list_contains([{', '.join(repr(w) for w in _LANG_STOPWORDS[lg])}], t))) AS score_{lg}"
            for lg in _LANG_ORDER
        )
        + " FROM documents)"
    ),
)
def x09_language_id(spark, sf_dir):
    """Heuristic language ID: per-language stopword hit counts, argmax with
    a fixed tie order. (The synthetic corpus is English word-soup under all
    labels, so this demonstrates the operator, not label recovery.) All
    JVM-side array ops — scan-local, zero shuffle."""
    d = scale_out(load(spark, sf_dir, "documents"))
    toks = tokens("text")
    scores = {
        lg: F.size(F.filter(
            toks,
            (lambda words: (lambda t: F.array_contains(F.array(*[F.lit(w) for w in words]), t)))(ws),
        )).cast("long")
        for lg, ws in _LANG_STOPWORDS.items()
    }
    d = d.select("doc_id", *[scores[lg].alias(f"score_{lg}") for lg in _LANG_ORDER])
    pred = None
    for lg in _LANG_ORDER:
        cond = None
        for other in _LANG_ORDER:
            if other == lg:
                continue
            c = F.col(f"score_{lg}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lg) if pred is None else pred.when(cond, lg)
    return d.select("doc_id", *[f"score_{lg}" for lg in _LANG_ORDER],
                    pred.alias("lang_pred"))


@query("x10_multimodal_features", oracle=__import__(
    "data_pipeline_foundations_spark.operators.multimodal",
    fromlist=["oracle_features_sql"]).oracle_features_sql())
def x10_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload + metadata struct ingest, then
    Arrow-batched mapInPandas feature extraction (operators/multimodal.py).
    Output contract is defined to equal x11's (pinned in
    tests/test_multimodal.py), so it shares x11's DuckDB oracle — the
    mapInPandas path gets the full rows+schema+hash check, not rows-only
    (VERDICT r1 #3)."""
    from ..operators.multimodal import attach_binary, extract_features
    return extract_features(attach_binary(scale_out(load(spark, sf_dir, "documents"))))


@query("x11_multimodal_features_sql", oracle=__import__(
    "data_pipeline_foundations_spark.operators.multimodal",
    fromlist=["oracle_features_sql"]).oracle_features_sql())
def x11_multimodal_features_sql(spark, sf_dir):
    """SQL-expressible twin of x10: the same binary metadata features via
    JVM built-ins (no Python), oracle-checked. x10's mapInPandas output
    must equal this (pinned in tests/test_multimodal.py)."""
    from ..operators.multimodal import attach_binary
    b = attach_binary(load(spark, sf_dir, "documents"))
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
        (F.conv(F.substring("meta.content_md5", 1, 15), 16, 10).cast("long") % 1024 + 1)
        .cast("int").alias("fake_width"),
        (F.conv(F.substring("meta.content_md5", 16, 15), 16, 10).cast("long") % 1024 + 1)
        .cast("int").alias("fake_height"),
    )


@query("x12_embedding_near_dup", oracle=oracle_cosine_near_dup_sql(threshold=0.4))
def x12_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: SRP 4-bit band blocking + exact
    cosine verification. The O(n²) pair space never materializes. The
    synthetic corpus is near-orthogonal random vectors (max pairwise
    cosine ≈ 0.51), so the registry entry verifies at threshold 0.4; a
    production near-dup run would use ~0.9."""
    return cosine_near_dup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.4)


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "x13_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def x13_token_stats(spark, sf_dir):
    """Token counting two ways (whitespace + BPE-ish regex pre-tokenizer) —
    the standard cost estimate for LLM training data. Scan-local, one
    regexp pass per row, zero shuffle."""
    d = scale_out(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


_WINNOW_W = 4


@query(
    "x14_winnow_fingerprint",
    oracle=(lambda: (lambda th, sh: f"""
    WITH pre AS (
        SELECT doc_id, {th} AS th FROM documents
        WHERE len(string_split(text, ' ')) >= 3 + {_WINNOW_W} - 1
    ), shc AS (
        SELECT doc_id, {sh} AS sh FROM pre
    ), wins AS (
        SELECT doc_id,
               list_transform(range(1, len(sh) - {_WINNOW_W} + 2),
                              i -> list_min(list_slice(sh, i, i + {_WINNOW_W} - 1))) AS mins
        FROM shc
    )
    SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM wins
    """)(*oracle_shingle_hashes("text", 3)))(),
)
def x14_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    scheme): min shingle-hash per sliding window of w=4, distinct per doc.
    Robust partial-overlap detection — guaranteed to share fingerprints
    with any copy of >= w+n-1 tokens. Rolling-hash shingles + window mins
    are all scan-local array ops; only (doc_id, fp) longs shuffle."""
    d = scale_out(load(spark, sf_dir, "documents")).filter(
        F.size(F.split("text", " ")) >= 3 + _WINNOW_W - 1)
    d = with_shingle_hashes(d, "text", 3, out="_sh")
    mins = F.transform(
        F.sequence(F.lit(1), F.size("_sh") - F.lit(_WINNOW_W - 1)),
        lambda i: F.array_min(F.slice(F.col("_sh"), i, _WINNOW_W)),
    )
    # explode_outer + null-drop: plain explode's inferred size()>0 filter
    # would re-inline the whole shingle+window-min pipeline into the scan
    # filter (see operators/dedup.py decontaminate).
    return (d.withColumn("_mins", mins)
            .select("doc_id",
                    F.explode_outer(F.array_distinct("_mins")).alias("fp"))
            .filter(F.col("fp").isNotNull()))


@query("x15_dedup_clusters",
       oracle=oracle_dedup_clusters_sql(oracle_minhash_lsh_sql()))
def x15_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: MinHash+LSH pairs → connected components →
    deterministic canonical doc (min id per component). The actionable
    form of dedup — "DELETE WHERE is_canonical = 0" — that the pair
    lists alone don't give (VERDICT r1, next-round task #2). Bounded
    min-label propagation; oracle is a DuckDB recursive-CTE closure."""
    docs = load(spark, sf_dir, "documents")
    return dedup_clusters(docs, minhash_lsh_pairs(docs))


# ---------------------------------------------------------------------------
# x82 — quality-weighted canonical selection (r11)
# ---------------------------------------------------------------------------


def _oracle_quality_canonical_sql() -> str:
    from ..operators.dedup import oracle_minhash_lsh_sql

    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({oracle_minhash_lsh_sql()}) _p
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ), reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, e.b AS node FROM reach r JOIN edges e ON e.a = r.node
    ), lab AS (
        SELECT src AS doc_id, MIN(node) AS cluster_id
        FROM reach GROUP BY src
    ), j AS (
        SELECT l.doc_id, l.cluster_id,
               {oracle_token_count('d.text')} AS n_tokens
        FROM lab l JOIN documents d USING (doc_id)
    ), pick AS (
        SELECT cluster_id, doc_id AS keep_doc_id FROM (
            SELECT cluster_id, doc_id,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY n_tokens DESC, doc_id ASC)
                       AS rn
            FROM j) WHERE rn = 1
    ), sz AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM lab GROUP BY cluster_id
    )
    SELECT j.doc_id, j.cluster_id, sz.cluster_size, j.n_tokens,
           p.keep_doc_id,
           CAST(j.doc_id = p.keep_doc_id AS INTEGER) AS is_kept
    FROM j JOIN sz USING (cluster_id) JOIN pick p USING (cluster_id)
    """


@query("x82_quality_canonical_dedup", oracle=_oracle_quality_canonical_sql())
def x82_quality_canonical_dedup(spark, sf_dir):
    """Near-dup clusters with QUALITY-WEIGHTED canonical selection: the
    kept member of each cluster is the longest document (token count),
    ties to the smallest id — the representative-selection rule real
    curation pipelines use where x15's min-id rule is only
    deterministic, not quality-aware. Composition: MinHash+LSH pairs →
    connected components → ONE window over cluster_id computing size
    AND the argmax pick (a struct max — count and max share the single
    exchange+sort), token counts attached by a thin (id, n_tokens)
    shuffle join. At 100 TB nothing new materializes beyond x15's
    plan: the quality column rides the existing component frame."""
    from pyspark.sql import Window as W

    from ..operators.clustering import connected_components

    docs = load(spark, sf_dir, "documents")
    comp = connected_components(docs.select("doc_id"),
                                minhash_lsh_pairs(docs))
    nt = docs.select("doc_id", token_count("text").alias("n_tokens"))
    j = comp.join(nt, "doc_id")
    wc = W.partitionBy("cluster_id")
    pick = F.max(F.struct(F.col("n_tokens").alias("nt"),
                          (-F.col("doc_id")).alias("nid"))).over(wc)
    return j.select(
        "doc_id", "cluster_id",
        F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
        "n_tokens",
        (-pick["nid"]).alias("keep_doc_id"),
        (F.col("doc_id") == -pick["nid"]).cast("int").alias("is_kept"))


# ---------------------------------------------------------------------------
# x83 — cross-source duplication matrix (r11)
# ---------------------------------------------------------------------------


def _oracle_source_dup_matrix_sql() -> str:
    from ..operators.dedup import oracle_minhash_lsh_sql

    return f"""
    WITH p AS (
        SELECT doc_a, doc_b FROM ({oracle_minhash_lsh_sql()}) _q
    ), s AS (
        SELECT doc_id, source FROM documents
    )
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM p
    JOIN s sa ON sa.doc_id = p.doc_a
    JOIN s sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2
    """


@query("x83_cross_source_dup_matrix", oracle=_oracle_source_dup_matrix_sql())
def x83_cross_source_dup_matrix(spark, sf_dir):
    """Which sources duplicate into which: every MinHash+LSH near-dup
    pair attributed to its (source, source) cell with canonical
    ordering (least/greatest) — the mixture-design diagnostic that
    tells you whether duplication is WITHIN a crawl snapshot (dedup
    before mixing) or ACROSS sources (down-weight one of them). Scale
    shape: two thin (id, source) shuffle joins onto the banded pair
    stream — the pair volume is already LSH-bounded, and the output is
    |sources|² at most."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    s = docs.select("doc_id", "source")
    j = (pairs
         .join(s.select(F.col("doc_id").alias("doc_a"),
                        F.col("source").alias("src_a")), "doc_a")
         .join(s.select(F.col("doc_id").alias("doc_b"),
                        F.col("source").alias("src_b")), "doc_b"))
    return (j.select(F.least("src_a", "src_b").alias("source_a"),
                     F.greatest("src_a", "src_b").alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_dup_pairs")))


# ---------------------------------------------------------------------------
# x40 — n-gram novelty score (corpus-diversity measurement)
# ---------------------------------------------------------------------------


def _oracle_novelty_sql(n: int = 3) -> str:
    th, sh_expr = oracle_shingle_hashes("text", n)
    return f"""
    WITH pre AS (
        SELECT doc_id, {th} AS th FROM documents
    ), shc AS (
        SELECT doc_id, {sh_expr} AS sh FROM pre
    ), shx AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shc
    ), first AS (
        SELECT s, MIN(doc_id) AS first_doc FROM shx GROUP BY s
    )
    SELECT shx.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = shx.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = shx.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM shx JOIN first f USING (s)
    GROUP BY shx.doc_id
    """


@query("x40_ngram_novelty", oracle=_oracle_novelty_sql())
def x40_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a document's distinct
    3-gram shingles whose FIRST corpus occurrence (minimum doc_id, i.e.
    earliest in ingestion order) is this document — the standard
    diversity/redundancy curve for curriculum and dedup-threshold tuning
    (a corpus whose tail documents contribute no novel n-grams is
    saturated). Scale shape: the inverted index shuffles once on the
    31-bit shingle hash and is LAZILY PERSISTED — AQE compiles the
    min-aggregate and the join-back as independent subtrees (no
    ReusedExchange), so without the persist the scan + shingle-hash
    pipeline executed twice; the per-doc rollup is one more long-only
    shuffle — identical discipline to x06's index (operators/dedup.py)."""
    from ..operators.caching import tracked_persist
    docs = load(spark, sf_dir, "documents")
    inv = tracked_persist(
        with_shingle_hashes(scale_out(docs), "text", 3, out="_sh")
        .select("doc_id",
                F.explode_outer(F.array_distinct("_sh")).alias("s"))
        .filter(F.col("s").isNotNull()),
        eager=False)
    first = inv.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    return (inv.join(first, "s")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
                 .alias("n_novel"))
            .select("doc_id", "n_shingles", "n_novel",
                    (F.col("n_novel").cast("double")
                     / F.col("n_shingles").cast("double")).alias("novelty")))


# ---------------------------------------------------------------------------
# x41 — directed n-gram containment (quote / excerpt / superset detection)
# ---------------------------------------------------------------------------


@query("x41_ngram_containment", oracle=oracle_ngram_containment_sql())
def x41_ngram_containment(spark, sf_dir):
    """Directed containment |A∩B|/|A| over 3-gram shingle sets for
    rare-shingle-blocked candidates, kept when either direction reaches
    0.8 — catches excerpts and quotes that symmetric Jaccard misses (a
    50-token doc fully inside a 500-token doc has containment 1.0 but
    Jaccard ~0.1). Same blocked machinery, exchanges, and exact
    shared-count verification as x06 (operators/dedup.py
    ngram_containment_pairs)."""
    return ngram_containment_pairs(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x45 — cross-source n-gram overlap matrix (contamination audit)
# ---------------------------------------------------------------------------


def _oracle_source_overlap_sql(n: int = 3) -> str:
    th, sh_expr = oracle_shingle_hashes("text", n)
    return f"""
    WITH pre AS (
        SELECT doc_id, source, {th} AS th FROM documents
    ), shc AS (
        SELECT doc_id, source, {sh_expr} AS sh FROM pre
    ), shx AS (
        SELECT DISTINCT source, s
        FROM (SELECT source, unnest(sh) AS s FROM shc)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM shx a JOIN shx b USING (s)
    WHERE a.source < b.source
    GROUP BY a.source, b.source
    """


def _source_overlap_collect_set(docs) -> DataFrame:
    """The r5 collect_set form — the fallback when |sources| > 62 (the
    bitmask form needs one bit per source in an int64). Kept measured:
    at 5M docs its variable-width set-aggregation state forces the
    250M-group aggregate out of hash mode (292 s vs the bitmask's
    ~60 s, SCALING.md r11 part 8)."""
    per_sh = (with_shingle_hashes(scale_out(docs), "text", 3, out="_sh")
              .select(F.explode_outer("_sh").alias("s"), "source")
              .filter(F.col("s").isNotNull())
              .groupBy("s")
              .agg(F.array_sort(F.collect_set("source")).alias("srcs")))
    pairs = per_sh.select(F.explode(F.expr(
        "flatten(transform(srcs, (x, i) -> "
        "transform(slice(srcs, i + 2, size(srcs)), "
        "y -> struct(x AS source_a, y AS source_b))))")).alias("p"))
    return (pairs.select("p.source_a", "p.source_b")
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_shared")))


@query("x45_source_overlap", oracle=_oracle_source_overlap_sql())
def x45_source_overlap(spark, sf_dir):
    """Pairwise cross-source contamination audit: for every source pair,
    the number of DISTINCT 3-gram shingles both contain — the matrix a
    curation pipeline reads before assigning mixture weights (two
    "independent" sources sharing most of their n-grams are one source
    counted twice) and the corpus-level twin of x25's benchmark
    decontamination.

    Scale shape (r11 — the r5 collect_set form grew 23.5×/decade on the
    5M-doc probe: a variable-width set per shingle makes the 250M-group
    aggregate fall out of hash-aggregation into sort-based mode, and the
    sort of the wide rows IS the decade; SCALING.md r11 part 8): each
    source maps to one bit of an int64 (bit = rank in the sorted source
    dimension, collected driver-side — a ≤62-row model artifact, x42's
    KB-collect discipline), and the corpus collapses to (shingle →
    bit_or mask) in ONE map-side-combined FIXED-WIDTH shuffle — the
    aggregation state is 8 bytes regardless of how many sources share
    the shingle, so the hash aggregate survives any corpus size. Shared
    shingles (bit_count ≥ 2, almost none of them) expand scan-local to
    bit-index pairs; the final count is dimension-sized and the names
    come from element_at on the broadcast literal array — bit order is
    sorted-source order, so source_a < source_b falls out unchanged.
    Output pinned identical to the collect_set fallback (> 62 sources)
    in tests/test_text_quality.py.

    NULL sources are dropped up front (r12, ADVICE): the r5 collect_set
    form silently skipped NULLs (collect_set semantics), while the
    bitmask form's driver-side sorted() raised TypeError on a NULL and
    a NULL reaching array_position would shiftleft by −1 — the filter
    restores the old contract (a NULL-source document contributes no
    membership) instead of crashing."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull())
    srcs = sorted(r["source"] for r in
                  docs.select("source").distinct().collect())
    if len(srcs) > 62:
        return _source_overlap_collect_set(docs)
    bit = F.array_position(F.array(*[F.lit(s) for s in srcs]),
                           F.col("source")) - 1
    per_sh = (with_shingle_hashes(scale_out(docs), "text", 3, out="_sh")
              .withColumn("_b", bit.cast("int"))
              .select(F.explode_outer("_sh").alias("s"),
                      F.expr("shiftleft(cast(1 as bigint), _b)")
                      .alias("_m"))
              .filter(F.col("s").isNotNull())
              .groupBy("s")
              .agg(F.bit_or("_m").alias("mask"))
              .filter(F.bit_count("mask") >= 2))
    pairs = per_sh.select(F.explode(F.expr(
        f"flatten(transform("
        f"  filter(sequence(0, {len(srcs) - 1}),"
        f"         b -> ((mask >> b) & 1) = 1),"
        f"  (x, i) -> transform("
        f"      slice(filter(sequence(0, {len(srcs) - 1}),"
        f"            b -> ((mask >> b) & 1) = 1), i + 2, {len(srcs)}),"
        f"      y -> struct(x AS ia, y AS ib))))")).alias("p"))
    names = F.array(*[F.lit(s) for s in srcs])
    return (pairs.select("p.ia", "p.ib")
            .groupBy("ia", "ib")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .select(F.element_at(names, F.col("ia").cast("int") + 1)
                    .alias("source_a"),
                    F.element_at(names, F.col("ib").cast("int") + 1)
                    .alias("source_b"),
                    "n_shared"))


# ---------------------------------------------------------------------------
# x46 / x47 — multimodal frame sampling and resize (oracle-checked plumbing)
# ---------------------------------------------------------------------------
# Same discipline as x10: the payloads are UTF-8 text bytes standing in
# for video/image binaries (ASCII corpus, so byte slices == character
# substrings and the DuckDB oracle can reproduce every frame hash); a
# real decoder replaces the slicing inside the SAME mapInPandas batch
# plumbing — schema, row expansion, partition behavior all exercised.


@query(
    "x46_frame_sampling",
    oracle="""
    WITH t AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS nb
        FROM documents
    )
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
           md5(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_md5
    FROM t, unnest(range(0, least(8, greatest(1,
             CAST(ceil(nb / 64.0) AS BIGINT))))) u(i)
    """,
)
def x46_frame_sampling(spark, sf_dir):
    """Video-payload frame sampling: one output row per byte-stride
    "frame" (row-expanding mapInPandas — the UDTF shape a real ffmpeg
    frame extractor plugs into), capped at 8 frames per document
    (operators/multimodal.py sample_frames). Scan-local row expansion;
    output cardinality is bounded per document, never corpus-coupled."""
    from ..operators.multimodal import attach_binary, sample_frames
    return sample_frames(attach_binary(scale_out(load(spark, sf_dir,
                                                      "documents"))))


@query(
    "x47_image_resize",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(256 AS INTEGER) AS target_w, CAST(256 AS INTEGER) AS target_h,
           md5(text || '|256x256') AS resized_md5
    FROM documents
    """,
)
def x47_image_resize(spark, sf_dir):
    """Image resize plumbing: Arrow-batched binary-in/binary-out
    transform over mapInPandas with a typed output schema — the batch
    shape PIL/libvips plugs into; the deterministic stand-in re-encode
    keeps it oracle-checkable (operators/multimodal.py resize_images)."""
    from ..operators.multimodal import attach_binary, resize_images
    return resize_images(attach_binary(scale_out(load(spark, sf_dir,
                                                      "documents"))))


# ---------------------------------------------------------------------------
# x49 — leakage-safe train/holdout split (cluster-granular assignment)
# ---------------------------------------------------------------------------


@query("x49_leakage_safe_split",
       oracle=f"""
    SELECT c.doc_id, c.cluster_id, c.cluster_size,
           CASE WHEN ({{bucket}}) < 90 THEN 'train' ELSE 'holdout' END
               AS split
    FROM ({oracle_dedup_clusters_sql(oracle_minhash_lsh_sql())}) c
    """.format(bucket=__import__(
           "data_pipeline_foundations_spark.functions.hashing",
           fromlist=["oracle_md5_long"],
       ).oracle_md5_long("CAST(c.cluster_id AS VARCHAR)", seed=7) + " % 100"))
def x49_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/holdout split: assign ENTIRE near-dup clusters
    (x15's MinHash-LSH -> connected-components machinery) to a split by
    a deterministic hash of the cluster id, so no document ever lands in
    train while a near-duplicate of it sits in holdout — the eval-
    contamination guard a per-document random split cannot give (the
    standard pitfall Lee et al. ACL'22 §6 measure as benchmark overlap).
    Singleton docs are their own cluster, so the expected split ratio
    still tracks the 90/100 hash threshold. Adds ZERO shuffles on top of
    x15 — the split column is a map-side hash of the cluster label."""
    from ..functions.hashing import md5_long
    docs = load(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, minhash_lsh_pairs(docs))
    return clusters.select(
        "doc_id", "cluster_id", "cluster_size",
        F.when(md5_long(F.col("cluster_id").cast("string"), seed=7)
               % 100 < 90, F.lit("train"))
        .otherwise(F.lit("holdout")).alias("split"))


# ---------------------------------------------------------------------------
# x54 — ordered conversion funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------

_FUNNEL_WIN = "INTERVAL 7 DAY"  # each step within 7 days of the previous


@query(
    "x54_conversion_funnel",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 7 DAY
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 7 DAY
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS INTEGER) AS depth
    FROM v
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
)
def x54_conversion_funnel(spark, sf_dir):
    """Ordered conversion funnel with a 7-day per-step window: first
    view, then the first qualifying click strictly after it, then the
    first qualifying purchase — the greedy-first semantics every
    product-analytics funnel uses (identical to a per-user
    sorted-event fold, because "first qualifying event after step k"
    IS the min over qualifying events). Scale shape: ONE hash exchange
    on user_id serves the whole query — the three step times are
    chained whole-partition window minimums over the same partitioning
    (t_click's candidate predicate references the t_view window result,
    so Catalyst stacks three WindowExec nodes behind a single
    Exchange+Sort), and the final one-row-per-user collapse reuses that
    partitioning exchange-free. A power-user key is safe: WindowExec
    buffers one user's events in a spillable row array, never a
    driver-side list. (The equivalent 3-aggregate/2-join formulation
    shuffles the same bytes across seven exchanges.)"""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id")
    ev = (load(spark, sf_dir, "events")
          .select("user_id", "event_type", "ts")
          .filter(F.col("event_type").isin("view", "click", "purchase")))
    step = (ev.withColumn(
                "t_view",
                F.min(F.when(F.col("event_type") == "view",
                             F.col("ts"))).over(w))
            .withColumn(
                "t_click",
                F.min(F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view")
                       + F.expr("INTERVAL 7 DAYS")),
                    F.col("ts"))).over(w))
            .withColumn(
                "t_purchase",
                F.min(F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click")
                       + F.expr("INTERVAL 7 DAYS")),
                    F.col("ts"))).over(w)))
    return (step.filter(F.col("t_view").isNotNull())
            .groupBy("user_id")
            .agg(F.first("t_view").alias("t_view"),
                 F.first("t_click").alias("t_click"),
                 F.first("t_purchase").alias("t_purchase"))
            .select("user_id", "t_view", "t_click", "t_purchase",
                    F.when(F.col("t_purchase").isNotNull(), 3)
                    .when(F.col("t_click").isNotNull(), 2)
                    .otherwise(1).cast("int").alias("depth")))


# ---------------------------------------------------------------------------
# x55 — weekly retention matrix (cohort week × weeks since first activity)
# ---------------------------------------------------------------------------


@query(
    "x55_retention_matrix",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ), first AS (
        SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id
    )
    SELECT f.cohort_wk AS cohort_week,
           CAST(FLOOR(CAST(date_diff('day', f.cohort_wk, a.wk) AS DOUBLE)
                      / 7) AS BIGINT) AS weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def x55_retention_matrix(spark, sf_dir):
    """Weekly retention matrix — the cohort analysis every growth team
    runs: users bucketed by first-activity ISO week, counted in every
    subsequent week they reappear. Scale shape: activity collapses to
    DISTINCT (user, week) in one map-side-combined shuffle; the
    first-week aggregate and the join-back reuse the user key; the final
    matrix rollup is dimension-sized. COUNT(*) is exact because the
    activity table is already distinct per (user, week) — no
    count-distinct shuffle."""
    ev = load(spark, sf_dir, "events")
    act = (ev.select("user_id", F.date_trunc("week", "ts").alias("wk"))
           .distinct())
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (act.join(first, "user_id")
            .select(F.col("cohort_wk").alias("cohort_week"),
                    F.floor(F.datediff(F.to_date("wk"),
                                       F.to_date("cohort_wk"))
                            / F.lit(7.0)).cast("long").alias("weeks_since"))
            .groupBy("cohort_week", "weeks_since")
            .agg(F.count(F.lit(1)).alias("n_users")))


# ---------------------------------------------------------------------------
# x56 — data-quality constraint report (Deequ-style, one scan)
# ---------------------------------------------------------------------------


@query(
    "x56_data_quality_report",
    oracle="""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS v0,
               CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                             THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v3,
               CAST(SUM(CASE WHEN l_quantity > l_extendedprice
                             THEN 1 ELSE 0 END) AS BIGINT) AS v4,
               CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
                   AS u0
        FROM lineitem
    )
    SELECT c."constraint", a.n_rows, c.n_violations,
           c.n_violations = 0 AS passed
    FROM agg a, LATERAL (VALUES
        ('not_null:l_orderkey', a.v0),
        ('range:l_quantity:[1,50]', a.v1),
        ('range:l_discount:[0,0.1]', a.v2),
        ('accepted:l_returnflag:{A,N,R}', a.v3),
        ('cross:l_quantity<=l_extendedprice', a.v4),
        ('unique:(l_orderkey,l_linenumber)', a.n_rows - a.u0)
    ) AS c("constraint", n_violations)
    """,
)
def x56_data_quality_report(spark, sf_dir):
    """Deequ-style constraint report over lineitem in ONE scan: every
    rule is a conditional sum in a single aggregate (plus one
    count-distinct for the key-uniqueness rule), exploded into the
    (constraint, n_rows, n_violations, passed) report — the publish
    gate a 100 TB warehouse runs without paying per-rule jobs
    (operators/validation.py)."""
    from ..operators.validation import constraint_report
    li = load(spark, sf_dir, "lineitem")
    return constraint_report(
        li,
        rules=[
            ("not_null:l_orderkey", F.col("l_orderkey").isNull()),
            ("range:l_quantity:[1,50]",
             (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
            ("range:l_discount:[0,0.1]",
             (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)),
            ("accepted:l_returnflag:{A,N,R}",
             ~F.col("l_returnflag").isin("A", "N", "R")),
            ("cross:l_quantity<=l_extendedprice",
             F.col("l_quantity") > F.col("l_extendedprice")),
        ],
        unique=[("unique:(l_orderkey,l_linenumber)",
                 ["l_orderkey", "l_linenumber"])])


# ---------------------------------------------------------------------------
# x57 — corpus datasheet (single-row dataset card)
# ---------------------------------------------------------------------------


@query(
    "x57_corpus_datasheet",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS mean_tokens
        FROM d
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    ), hist AS (
        SELECT n_tok, COUNT(*) AS c FROM d GROUP BY n_tok
    ), cum AS (
        SELECT n_tok, SUM(c) OVER (ORDER BY n_tok) AS cum FROM hist
    ), q AS (
        SELECT
            MIN(CASE WHEN cum >= CEIL(0.5 * (SELECT n_docs FROM base))
                     THEN n_tok END) AS p50_tokens,
            MIN(CASE WHEN cum >= CEIL(0.9 * (SELECT n_docs FROM base))
                     THEN n_tok END) AS p90_tokens
        FROM cum
    )
    SELECT b.n_docs, b.n_tokens, v.vocab_size, b.n_sources, b.n_langs,
           b.mean_tokens, q.p50_tokens, q.p90_tokens
    FROM base b, vocab v, q
    """,
)
def x57_corpus_datasheet(spark, sf_dir):
    """Single-row dataset card — the "describe this corpus" query every
    dataset datasheet starts from (Gebru et al., "Datasheets for
    Datasets", CACM 2021 motivates the artifact; the stats here are its
    quantitative core). Exact PORTABLE quantiles: a token-length
    histogram plus a cumulative window over its few-hundred distinct
    lengths picks the smallest length whose cumulative count reaches
    ceil(q·n) — no percentile_approx (whose sketch is
    engine-specific). Scale shape: one scan-local token count, one
    map-side-combined histogram, one vocab count-distinct, all reduced
    to single broadcast rows joined at the end."""
    d = (scale_out(load(spark, sf_dir, "documents"))
         .select("doc_id", "source", "lang",
                 F.size(F.split("text", " ")).cast("long").alias("n_tok")))
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        (F.sum("n_tok").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("mean_tokens"))
    vocab = (load(spark, sf_dir, "documents")
             .select(F.explode_outer(F.split("text", " ")).alias("w"))
             .filter(F.col("w").isNotNull())
             .agg(F.count_distinct("w").alias("vocab_size")))
    from pyspark.sql import Window as W
    hist = d.groupBy("n_tok").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum", F.sum("c").over(W.orderBy("n_tok")
                               .rowsBetween(W.unboundedPreceding, 0)))
    q = (cum.crossJoin(F.broadcast(base.select("n_docs")))
         .agg(F.min(F.when(F.col("cum") >= F.ceil(0.5 * F.col("n_docs")),
                           F.col("n_tok"))).alias("p50_tokens"),
              F.min(F.when(F.col("cum") >= F.ceil(0.9 * F.col("n_docs")),
                           F.col("n_tok"))).alias("p90_tokens")))
    return (base.crossJoin(F.broadcast(vocab)).crossJoin(F.broadcast(q))
            .select("n_docs", "n_tokens", "vocab_size", "n_sources",
                    "n_langs", "mean_tokens", "p50_tokens", "p90_tokens"))


# ---------------------------------------------------------------------------
# x59 — per-domain token-budget allocation by water-filling
# ---------------------------------------------------------------------------
# The data-mixing step after contribution capping (x50): given per-source
# token totals and a global training-token budget, allocate by water-
# filling — every source keeps min(its tokens, cap) where the cap is the
# unique level that exactly spends the budget. Small sources keep
# everything; the head is clipped to one common level — the
# max-min-fair allocation (the classic water-filling solution).


def _oracle_waterfill_sql() -> str:
    nt = oracle_token_count("text")
    return f"""
    WITH t AS (
        SELECT source, CAST(SUM({nt}) AS BIGINT) AS tok
        FROM documents GROUP BY source
    ), r AS (
        SELECT source, tok,
               CAST(row_number() OVER w AS BIGINT) AS idx,
               CAST(SUM(tok) OVER w AS BIGINT) AS prefix,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(FLOOR(CAST(SUM(tok) OVER () AS DOUBLE) / 2.0) AS BIGINT)
                   AS budget
        FROM t
        WINDOW w AS (ORDER BY tok, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), lvl AS (
        SELECT MIN(CAST(budget - (prefix - tok) AS DOUBLE)
                   / CAST(n - idx + 1 AS DOUBLE)) AS c
        FROM r
        WHERE tok * (n - idx + 1) >= budget - (prefix - tok)
    )
    SELECT r.source, r.tok AS total_tokens,
           CASE WHEN lvl.c IS NULL OR CAST(r.tok AS DOUBLE) < lvl.c
                THEN CAST(r.tok AS DOUBLE) ELSE lvl.c END AS alloc_tokens,
           CAST(lvl.c IS NOT NULL
                AND CAST(r.tok AS DOUBLE) >= lvl.c AS INTEGER) AS capped
    FROM r, lvl
    """


@query("x59_token_budget_waterfill", oracle=_oracle_waterfill_sql())
def x59_token_budget_waterfill(spark, sf_dir):
    """Water-filling token-budget allocation across sources: budget =
    half the corpus (an exact int), cap level c solves
    Σ min(tok_s, c) = budget in closed form over the sources sorted by
    size — the first source (ascending) whose full allocation would
    exceed the remaining per-source share sets
    c = (budget − prefix_below) / (sources remaining), an exact-int
    division both engines round identically (the feasibility test is
    pure int arithmetic: tok·remaining ≥ budget − prefix_below).
    Scale shape: ONE map-side-combined aggregate collapses the corpus
    to |sources| rows; the windows and the broadcast level row are
    dimension-sized. Output: (source, total_tokens, alloc_tokens,
    capped)."""
    from pyspark.sql import Window as W
    t = (scale_out(load(spark, sf_dir, "documents"))
         .select("source", token_count("text").alias("nt"))
         .groupBy("source").agg(F.sum("nt").alias("tok")))
    w = W.orderBy("tok", "source")
    r = (t.withColumn("idx", F.row_number().over(w).cast("long"))
         .withColumn("prefix",
                     F.sum("tok").over(w.rowsBetween(W.unboundedPreceding,
                                                     0)))
         .withColumn("n", F.count(F.lit(1)).over(
             W.partitionBy(F.lit(1))).cast("long"))
         .withColumn("budget",
                     F.floor(F.sum("tok").over(W.partitionBy(F.lit(1)))
                             .cast("double") / 2.0).cast("long")))
    lvl = r.filter(
        F.col("tok") * (F.col("n") - F.col("idx") + 1)
        >= F.col("budget") - (F.col("prefix") - F.col("tok"))
    ).agg(F.min(
        (F.col("budget") - (F.col("prefix") - F.col("tok"))).cast("double")
        / (F.col("n") - F.col("idx") + 1).cast("double")).alias("c"))
    return (r.crossJoin(F.broadcast(lvl))
            .select("source", F.col("tok").alias("total_tokens"),
                    F.when(F.col("c").isNull()
                           | (F.col("tok").cast("double") < F.col("c")),
                           F.col("tok").cast("double"))
                    .otherwise(F.col("c")).alias("alloc_tokens"),
                    (F.col("c").isNotNull()
                     & (F.col("tok").cast("double") >= F.col("c")))
                    .cast("int").alias("capped")))


# ---------------------------------------------------------------------------
# x60 — BPE merge-pair candidates (tokenizer-training first step)
# ---------------------------------------------------------------------------

BPE_TOP_K = 20


@query(
    "x60_bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ), p AS (
        SELECT freq, substring(w, CAST(i AS BIGINT), 2) AS pair
        FROM words, unnest(range(1, greatest(length(w) - 1, 0) + 1)) t(i)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT {BPE_TOP_K}
    """,
)
def x60_bpe_merge_candidates(spark, sf_dir):
    """The first iteration of BPE tokenizer training (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units",
    ACL'16): count adjacent character pairs weighted by word frequency
    and rank the top merge candidates. The full trainer repeats this
    with merged symbols; iteration one is the SQL-expressible core and
    the dominant cost (every later round runs over the same word-freq
    table, which is orders of magnitude smaller than the corpus).
    Scale shape: the corpus collapses to the distinct-word frequency
    table in ONE map-side-combined shuffle; pair expansion is
    scan-local over words (not the corpus); the top-k is
    TakeOrderedAndProject with a full deterministic tie-break."""
    words = (scale_out(load(spark, sf_dir, "documents"))
             .select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.col("w") != "")
             .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    pairs = words.select(
        "freq",
        F.explode(F.expr(
            "CASE WHEN length(w) >= 2 THEN "
            "transform(sequence(1, length(w) - 1), "
            "i -> substring(w, i, 2)) "
            "ELSE array() END")).alias("pair"))
    return (pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(BPE_TOP_K))


# ---------------------------------------------------------------------------
# x61 — ANN recall evaluation (approximate index vs exact ground truth)
# ---------------------------------------------------------------------------


def _oracle_ann_recall_sql() -> str:
    from ..operators.similarity import (
        oracle_cosine_topk_sql, oracle_pq_topk_sql,
    )
    return f"""
    WITH exact_t AS ({oracle_cosine_topk_sql()}),
    approx_t AS ({oracle_pq_topk_sql()})
    SELECT e.query_id,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / 5.0 AS recall
    FROM exact_t e
    LEFT JOIN approx_t a
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@query("x61_ann_recall", oracle=_oracle_ann_recall_sql())
def x61_ann_recall(spark, sf_dir):
    """Recall@5 of the PQ-ADC index (x36) against the exact brute-force
    ground truth (x07), per query — the evaluation loop every ANN
    deployment runs before trusting an index (and the number the
    nprobe/ks knobs are tuned against). Runs the FUSED evaluation
    (operators/similarity.ann_recall): one model collect, one Arrow map
    stage scoring both rankings per corpus vector, one shared per-query
    exchange for both row_number windows — bit-identical to composing
    cosine_topk + pq_topk (the DuckDB oracle still runs the composition;
    equality of the two Spark paths pinned in tests/test_similarity.py).
    Scale shape: each vector moves once; only (query, neighbor, score)
    longs shuffle; output is n_queries rows."""
    from ..operators.similarity import ann_recall
    return ann_recall(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x62 — canonical-URL dedup behind a host blocklist (crawl-frontier step)
# ---------------------------------------------------------------------------
# The step every web pipeline runs before content dedup: canonicalize the
# capture URL (strip scheme, www., query string, fragment, trailing
# slash), drop blocklisted hosts, and keep ONE capture per canonical URL
# (the earliest doc_id — "first crawl wins", CCNet's URL-level dedup).
# Synthetic per-doc URL like x34's synth (the corpus carries no URLs);
# the derivation varies scheme/www/slash/query/fragment so the
# canonicalizer has real work on every row. The canonical space SCALES
# WITH THE CORPUS (page = doc_id div 7 → ~7 captures per page, pages
# ∝ docs — r6: a fixed-modulus space made the operator a constant-size
# floor whose 10× ratio could never close).

_PAGE_URL_SPARK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,"
    " CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END,"
    " 'h', CAST((doc_id div 7) % 23 AS STRING), '.example.com',"
    " '/p/', CAST(doc_id div 7 AS STRING),"
    " CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN"
    "   concat('?utm_source=feed&sid=', CAST(doc_id AS STRING))"
    "   ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)")

_PAGE_URL_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||"
    " (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||"
    " 'h' || CAST((doc_id // 7) % 23 AS VARCHAR) || '.example.com' ||"
    " '/p/' || CAST(doc_id // 7 AS VARCHAR) ||"
    " (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||"
    " (CASE WHEN doc_id % 5 = 0 THEN"
    "   '?utm_source=feed&sid=' || CAST(doc_id AS VARCHAR)"
    "   ELSE '' END) ||"
    " (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)")

BLOCKED_HOSTS = ("h3.example.com", "h11.example.com", "h17.example.com")


@query(
    "x62_canonical_url_dedup",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, {_PAGE_URL_SQL} AS url FROM documents
    ), c AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                   url, '[?#].*$', ''),
                   '/$', ''), '^(https?://)?(www\\.)?', '')
                   AS canon_url
        FROM u
    )
    SELECT canon_url,
           regexp_extract(canon_url, '^([^/]+)', 1) AS host,
           MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_captures
    FROM c
    WHERE regexp_extract(canon_url, '^([^/]+)', 1) NOT IN
          ({", ".join(f"'{h}'" for h in BLOCKED_HOSTS)})
    GROUP BY canon_url
    """,
)
def x62_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup behind a host blocklist: canonicalize each
    capture URL (drop fragment, query string, trailing slash, scheme,
    leading www.), remove blocklisted hosts with a BROADCAST anti-join
    (the blocklist is a table — millions of hosts in production — never
    an IN-list in the plan), then keep the earliest capture per
    canonical URL. Scale shape: canonicalization is scan-local regex;
    the blocklist anti-join is map-side (broadcast, kills rows BEFORE
    the shuffle); the dedup is ONE map-side-combined groupBy on the
    canonical key. Output: (canon_url, host, keep_doc_id, n_captures)."""
    block = F.broadcast(
        spark.createDataFrame([(h,) for h in BLOCKED_HOSTS], "bhost string"))
    c = (scale_out(load(spark, sf_dir, "documents"))
         .select("doc_id", F.expr(_PAGE_URL_SPARK).alias("url"))
         .withColumn("canon_url", canonical_url("url"))
         .withColumn("host", url_host("canon_url")))
    return (c.join(block, c.host == block.bhost, "left_anti")
            .groupBy("canon_url")
            .agg(F.first("host").alias("host"),
                 F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_captures")))


# ---------------------------------------------------------------------------
# x63 — hashed linear quality classifier (fasttext-style model filter)
# ---------------------------------------------------------------------------
# Model-based quality filtering (the GPT-3/LLaMA-pipeline "quality
# classifier" stage) with the hashing trick: token -> hash bucket ->
# integer weight, document score = sum of token weights. The weight
# table is IMPLICIT in the hash (2001 buckets, weight = bucket - 1000),
# so no model artifact ships with the query and both engines reproduce
# it bit-exactly; swapping in trained weights = one broadcast join
# against a (bucket, weight) table in the same plan. The monotone
# sigmoid is omitted on purpose: keep-decisions only need the linear
# score's order, and exp() is not bit-portable across engines.

_CLF_BUCKETS = 2001  # odd -> weights symmetric in [-1000, 1000]
_CLF_THRESHOLD = 25.0  # mean-weight keep threshold (~0.33 sd at n=60)


def _clf_weight_sql() -> str:
    """Per-token integer weight — md5_long kept in lockstep with the
    Spark side via the shared oracle helper (functions/hashing.py)."""
    from ..functions.hashing import oracle_md5_long
    return f"({oracle_md5_long('t')} % {_CLF_BUCKETS}) - 1000"


@query(
    "x63_quality_classifier",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(coalesce(list_sum(list_transform(toks,
                   t -> {_clf_weight_sql()})), 0) AS BIGINT) AS score
        FROM t
    )
    SELECT doc_id, n_tokens, score,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(score AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                END AS mean_weight,
           CAST(CASE WHEN n_tokens = 0 THEN 0.0
                     ELSE CAST(score AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     END > {_CLF_THRESHOLD} AS INTEGER) AS keep
    FROM s
    """,
)
def x63_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality classifier (the fastText shape: Joulin et
    al. 2016, "Bag of Tricks for Efficient Text Classification"; the
    hashing trick: Weinberger et al. 2009): per-token integer weight from a
    60-bit md5 hash bucket, document score = exact integer sum over the
    token array via a codegen'd HOF aggregate — scan-local, ZERO
    shuffles, no UDF. mean_weight (score / n_tokens) is one exact int
    division, so the keep verdict is bit-identical across engines.
    Output: (doc_id, n_tokens, score, mean_weight, keep)."""
    from ..functions.hashing import md5_long

    def weight(t):
        return (md5_long(t) % F.lit(_CLF_BUCKETS)) - F.lit(1000)

    toks = F.filter(tokens("text"), lambda t: t != F.lit(""))
    d = (scale_out(load(spark, sf_dir, "documents"))
         .select("doc_id", toks.alias("toks"))
         .select("doc_id",
                 F.size("toks").cast("long").alias("n_tokens"),
                 F.aggregate("toks", F.lit(0).cast("long"),
                             lambda acc, t: acc + weight(t)).alias("score")))
    mean_w = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("score").cast("double") / F.col("n_tokens").cast("double"))
    return d.select("doc_id", "n_tokens", "score",
                    mean_w.alias("mean_weight"),
                    (mean_w > F.lit(_CLF_THRESHOLD)).cast("int").alias("keep"))


# ---------------------------------------------------------------------------
# x64 — corpus snapshot diff (incremental-crawl changelog)
# ---------------------------------------------------------------------------
# What changed between two crawl snapshots: added / removed / changed
# documents, detected by id presence + content-fingerprint mismatch.
# The "new" snapshot is derived deterministically from the corpus (drop
# doc_id % 17 = 3, edit text of doc_id % 13 = 5 among the retained,
# add a fresh doc per doc_id % 11 = 0 under a disjoint id range), so
# both engines diff the same pair of tables.

_SNAP_ADD_BASE = 10_000_000


@query(
    "x64_snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT doc_id, source, {oracle_fingerprint('text')} AS fp
        FROM documents
    ), new AS (
        SELECT doc_id, source,
               {oracle_fingerprint(
                   "CASE WHEN doc_id % 13 = 5 THEN text || ' edit-v2' "
                   "ELSE text END")} AS fp
        FROM documents WHERE doc_id % 17 <> 3
        UNION ALL
        SELECT doc_id + {_SNAP_ADD_BASE} AS doc_id, source,
               {oracle_fingerprint("text || ' brand-new'")} AS fp
        FROM documents WHERE doc_id % 11 = 0
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           coalesce(old.source, new.source) AS source,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    WHERE old.doc_id IS NULL OR new.doc_id IS NULL OR old.fp <> new.fp
    """,
)
def x64_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two crawl versions: FULL OUTER join on
    doc_id, classify added (no old row) / removed (no new row) /
    changed (both present, content fingerprints differ); unchanged rows
    are filtered out, so the output IS the changelog an incremental
    pipeline would process. Scale shape: each side collapses to
    (doc_id, source, 60-bit fp) before the join — the only wide column
    never shuffles — and the join is one sort-merge exchange per side
    on the id; on a bucketed-by-doc_id warehouse layout
    (sources/warehouse.py) both exchanges vanish. Output:
    (doc_id, source, status)."""
    docs = scale_out(load(spark, sf_dir, "documents"))
    old = docs.select("doc_id", "source", fingerprint("text").alias("fp"))
    new_text = F.when(F.col("doc_id") % 13 == 5,
                      F.concat(F.col("text"), F.lit(" edit-v2"))) \
        .otherwise(F.col("text"))
    new = (docs.filter(F.col("doc_id") % 17 != 3)
           .select("doc_id", "source", fingerprint(new_text).alias("fp"))
           .unionByName(
               docs.filter(F.col("doc_id") % 11 == 0)
               .select((F.col("doc_id") + _SNAP_ADD_BASE).alias("doc_id"),
                       "source",
                       fingerprint(F.concat(F.col("text"),
                                            F.lit(" brand-new"))).alias("fp"))))
    o = old.alias("o")
    n = new.alias("n")
    j = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    return (j.filter(F.col("o.doc_id").isNull() | F.col("n.doc_id").isNull()
                     | (F.col("o.fp") != F.col("n.fp")))
            .select(F.coalesce(F.col("o.doc_id"), F.col("n.doc_id"))
                    .alias("doc_id"),
                    F.coalesce(F.col("o.source"), F.col("n.source"))
                    .alias("source"),
                    F.when(F.col("o.doc_id").isNull(), F.lit("added"))
                    .when(F.col("n.doc_id").isNull(), F.lit("removed"))
                    .otherwise(F.lit("changed")).alias("status")))


# ---------------------------------------------------------------------------
# x65 — PageRank over the page link graph (iterative graph computation)
# ---------------------------------------------------------------------------
# The domain/page-authority signal web-curation pipelines weight sources
# by (and the classic iterative-computation stress test beyond x15's
# connected components). Deterministic integer-grid formulation: ranks
# live on a 1e-9 grid as int64, the damping factor is the exact
# rational 17/20, and every edge contribution is one positive-int floor
# division — so five unrolled iterations produce bit-identical ranks in
# any engine and any reduction order. The link graph is synthesized
# deterministically from doc_ids (the corpus carries no links) and
# SCALES WITH THE CORPUS (r7, the x62 amendment's template — a fixed
# 97-node space made the 10× row a pure scheduling-floor reading): the
# page space is P = max(doc_id) div 8 + 1 (~8 captured docs per page,
# pages ∝ docs), each page carries 8 deterministic outlinks — two
# hierarchy links (pg div 2, pg div 3: authority concentrates toward
# low ids, the hub structure real web graphs have) and six LCG
# cross-links ((a·pg + b) % P). Edges ∝ docs, so the oracle's
# per-iteration work grows with data; pagerank_topk's 1M-edge driver
# fast path (raised from 100k in r8 — the 150k-edge graph at 30× sf0.1
# paid a measured 5.1 s Pregel scheduling-floor cliff, SCALING.md r8)
# covers this corpus family to ~200× sf0.1, with the distributed Pregel
# path differential-pinned above it.

_PR_DIV = 8           # docs per page: page space ∝ docs
_PR_SCALE = 10 ** 9   # rank grid
_PR_ITERS = 5
_PR_TOP = 20
# 8 outlinks per page: ("div", k) → pg div k; (a, b) → (a·pg + b) % P
_PR_GENS: list[tuple] = [("div", 2), ("div", 3), (31, 7), (17, 11),
                         (53, 5), (67, 29), (41, 3), (13, 19)]


def _pr_edges_sql() -> str:
    gens = ", ".join(
        f"pg // {g[1]}" if g[0] == "div" else f"({g[0]} * pg + {g[1]}) % p"
        for g in _PR_GENS)
    return f"""
        SELECT DISTINCT src, dst FROM (
            SELECT pg AS src, unnest([{gens}]) AS dst
            FROM (SELECT DISTINCT doc_id % p AS pg, p
                  FROM documents,
                       (SELECT MAX(doc_id) // {_PR_DIV} + 1 AS p
                        FROM documents) nd)
        ) WHERE src <> dst
    """


def _oracle_pagerank_sql() -> str:
    it = [f"""
    nodes AS (
        SELECT src AS page FROM edges UNION SELECT dst FROM edges
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ), it0 AS (
        SELECT page, {_PR_SCALE} // n.n AS rank_q FROM nodes, n
    )"""]
    for t in range(_PR_ITERS):
        it.append(f""", it{t + 1} AS (
        SELECT nodes.page,
               CAST({3 * _PR_SCALE} AS BIGINT) // (20 * n.n)
                   + coalesce(c.s, 0) AS rank_q
        FROM nodes CROSS JOIN n
        LEFT JOIN (
            SELECT e.dst AS page,
                   SUM((r.rank_q * 17) // (20 * d.outdeg)) AS s
            FROM edges e
            JOIN it{t} r ON r.page = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ) c ON c.page = nodes.page
    )""")
    return f"""
    WITH edges AS ({_pr_edges_sql()}),
    {''.join(it)}
    SELECT page, rank_q,
           CAST(rank_q AS DOUBLE) / {_PR_SCALE} AS rank
    FROM it{_PR_ITERS}
    ORDER BY rank_q DESC, page ASC
    LIMIT {_PR_TOP}
    """


@query("x65_domain_pagerank", oracle=_oracle_pagerank_sql())
def x65_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations (Page/Brin/Motwani/Winograd 1999) over
    the deterministic page link graph,
    top-{20} pages by authority. Integer-grid arithmetic end to end:
    damping 17/20 and the teleport term 3/(20·N) are positive-int floor
    divisions, each edge's contribution is floored BEFORE the sum, so
    the per-destination aggregation is an exact int64 reduction — any
    engine, any order, bit-identical ranks.

    Execution via operators/graph.py pagerank_topk: the distributed
    path is the honest Pregel-style movement (edges + out-degrees
    partitioned by src once and persisted; per iteration one rank join
    against that layout + one groupBy(dst) exchange, rank state 2 longs
    per node), with the scale-adaptive driver fast path below 100k
    edges (the clustering.py union-find precedent — same exact-int
    loop, differential-pinned equal in tests/test_graph.py). Dangling
    mass is dropped identically in both formulations and the oracle."""
    from ..operators.graph import pagerank_topk

    docs = scale_out(load(spark, sf_dir, "documents"))
    nd = docs.agg(F.expr(f"max(doc_id) div {_PR_DIV} + 1").alias("p"))
    pages = (docs.crossJoin(F.broadcast(nd))
             .select((F.col("doc_id") % F.col("p")).alias("pg"), "p")
             .distinct())
    gens = F.array(*[
        F.expr(f"pg div {g[1]}") if g[0] == "div"
        else F.expr(f"({g[0]} * pg + {g[1]}) % p")
        for g in _PR_GENS])
    edges = (pages.select(F.col("pg").alias("src"),
                          F.explode(gens).alias("dst"))
             .filter(F.col("src") != F.col("dst")).distinct())
    return pagerank_topk(edges, iters=_PR_ITERS, scale=_PR_SCALE,
                         k=_PR_TOP)


# ---------------------------------------------------------------------------
# x66 — snapshot drift statistic (corpus-monitoring companion to x64)
# ---------------------------------------------------------------------------
# Did the source mixture shift between two crawl snapshots? Per-source
# chi-square contributions of the new snapshot's counts against the
# expectation under the old mixture — the alerting statistic a corpus
# monitor tracks release-over-release. Uses x64's derived "new"
# snapshot (drop doc_id%17=3, add a doc per doc_id%11=0; text edits
# don't move counts). No cross-row float aggregation: each source's
# expected count and chi-square contribution are derived per ROW from
# exact int counts with a mirrored IEEE op order, and the total is left
# to the consumer — so every output value is bit-identical cross-engine.


@query(
    "x66_snapshot_drift",
    oracle="""
    WITH c AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_old,
               CAST(SUM(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new
        FROM documents GROUP BY source
    ), t AS (
        SELECT source, n_old, n_new,
               SUM(n_old) OVER () AS tot_old,
               SUM(n_new) OVER () AS tot_new
        FROM c
    )
    SELECT source, n_old, n_new,
           (CAST(tot_new AS DOUBLE) * CAST(n_old AS DOUBLE))
               / CAST(tot_old AS DOUBLE) AS expected,
           ((CAST(n_new AS DOUBLE)
             - (CAST(tot_new AS DOUBLE) * CAST(n_old AS DOUBLE))
               / CAST(tot_old AS DOUBLE))
            * (CAST(n_new AS DOUBLE)
               - (CAST(tot_new AS DOUBLE) * CAST(n_old AS DOUBLE))
                 / CAST(tot_old AS DOUBLE)))
           / ((CAST(tot_new AS DOUBLE) * CAST(n_old AS DOUBLE))
              / CAST(tot_old AS DOUBLE)) AS chi2_contrib
    FROM t
    """,
)
def x66_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source chi-square drift between consecutive snapshots: both
    snapshots' counts come from ONE map-side-combined aggregate pass
    over the corpus (the new snapshot's count is two conditional sums —
    no second scan, no join), the totals are window sums over the
    dimension-sized result, and expected/chi2 are per-row derived
    floats with the oracle's exact op order. Output: (source, n_old,
    n_new, expected, chi2_contrib)."""
    from pyspark.sql import Window as W

    c = (scale_out(load(spark, sf_dir, "documents"))
         .groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_old"),
              (F.sum(F.when(F.col("doc_id") % 17 != 3, 1).otherwise(0))
               + F.sum(F.when(F.col("doc_id") % 11 == 0, 1).otherwise(0)))
              .cast("long").alias("n_new")))
    w = W.partitionBy(F.lit(1))
    t = (c.withColumn("tot_old", F.sum("n_old").over(w))
         .withColumn("tot_new", F.sum("n_new").over(w)))
    e = ((F.col("tot_new").cast("double") * F.col("n_old").cast("double"))
         / F.col("tot_old").cast("double"))
    d = F.col("n_new").cast("double") - e
    return t.select("source", "n_old", "n_new", e.alias("expected"),
                    ((d * d) / e).alias("chi2_contrib"))


# ---------------------------------------------------------------------------
# x67 — k-anonymity audit over quasi-identifiers (privacy governance)
# ---------------------------------------------------------------------------
# Re-identification risk scan: how many documents sit in a
# quasi-identifier equivalence class smaller than k? The (lang, source,
# length-bucket) tuple plays the quasi-identifier role (the release
# reviewer's question: "can metadata alone single a document out?").
# One map-side-combined groupBy; the audit output is every risky class
# plus its size — dimension-bounded regardless of corpus size.

_KANON_K = 5
_KANON_BUCKET = 50  # n_chars bucket width


@query(
    "x67_k_anonymity",
    oracle=f"""
    SELECT lang, source,
           n_chars // {_KANON_BUCKET} AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM documents
    GROUP BY lang, source, n_chars // {_KANON_BUCKET}
    HAVING COUNT(*) < {_KANON_K}
    """,
)
def x67_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): every (lang, source, length-bucket)
    quasi-identifier class with fewer than k={5} members, with its size
    and one example doc — the classes where metadata alone risks
    re-identification. ONE map-side-combined aggregate + a HAVING
    filter; at 100 TB the output stays bounded by the quasi-identifier
    cardinality, never the corpus. No scale_out: the per-row work is
    three column reads and an integer div — scan-bound, so a
    round-robin repartition would only add an exchange (parallelism at
    real scale comes from the file splits themselves)."""
    return (load(spark, sf_dir, "documents")
            .groupBy("lang", "source",
                     F.expr(f"n_chars div {_KANON_BUCKET}")
                     .alias("len_bucket"))
            .agg(F.count(F.lit(1)).alias("class_size"),
                 F.min("doc_id").alias("example_doc"))
            .filter(F.col("class_size") < _KANON_K))


# ---------------------------------------------------------------------------
# x69 — content-defined chunking + cross-doc chunk dedup (CDC, LBFS-style)
# ---------------------------------------------------------------------------
# Storage-layer dedup for near-identical documents (Muthitacharoen et
# al., SOSP'01 — the LBFS rolling-hash boundary scheme; the same idea
# restic/borg use): chunk boundaries are placed where the rolling
# 4-gram hash hits 0 mod D, so boundaries depend on CONTENT ALONE and
# shared passages chunk identically in every document regardless of
# offset shifts — exactly what fixed-size chunking (x31) cannot give.
# The audit reports, per document, how much of it is chunk-shared with
# the rest of the corpus.

_CDC_W = 4   # rolling window (tokens)
_CDC_D = 8   # boundary divisor -> mean chunk ~D tokens


def _oracle_cdc_sql() -> str:
    from ..functions.hashing import oracle_md5_long
    from ..functions.text import oracle_shingles
    return f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               {oracle_shingles('text', _CDC_W)} AS sh
        FROM documents
    ), e AS (
        SELECT doc_id, i AS pos, toks[i] AS tok,
               CASE WHEN i >= {_CDC_W}
                    THEN ({oracle_md5_long(f'sh[i - {_CDC_W - 1}]')}
                          % {_CDC_D} = 0)
                    ELSE FALSE END AS trig
        FROM t, unnest(range(1, len(toks) + 1)) r(i)
    ), c AS (
        SELECT doc_id, pos, tok,
               coalesce(SUM(CASE WHEN trig THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS chunk_id
        FROM e
    ), ch AS (
        SELECT doc_id, chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_toks,
               {oracle_md5_long(
                   "array_to_string(list(tok ORDER BY pos), ' ')")} AS fp
        FROM c GROUP BY doc_id, chunk_id
    ), fs AS (
        SELECT fp, COUNT(DISTINCT doc_id) AS n_docs_fp FROM ch GROUP BY fp
    )
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN fs.n_docs_fp > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_chunks,
           CAST(SUM(CASE WHEN fs.n_docs_fp > 1 THEN n_toks ELSE 0 END)
                AS BIGINT) AS shared_tokens
    FROM ch JOIN fs ON fs.fp = ch.fp
    GROUP BY ch.doc_id
    """


@query("x69_cdc_chunking", oracle=_oracle_cdc_sql())
def x69_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking audit: rolling-4-gram boundaries
    (hash % D = 0), chunk fingerprints, and per-document sharing stats
    against the whole corpus. Boundary detection is scan-local (shingle
    hashes computed in-array before the explode, so the explode ships
    scalars, never per-row array copies); chunk assembly is one
    doc-keyed window + one (doc, chunk) aggregate; the cross-doc pass
    is one fp-keyed aggregate + join-back. Every key is bounded (docs,
    chunk fps) — no pairwise anything. Output: (doc_id, n_chunks,
    n_shared_chunks, shared_tokens).

    An all-in-array variant (chunk slices + per-chunk md5 inside a
    transform HOF, explode only chunk structs) was MEASURED 2.6x
    slower at 1x and 8x slower at 10x (2.8 s -> 22 s): HOF lambdas
    evaluate interpreted (vectorized.py preamble), so per-chunk
    md5+conv in-array loses badly to this codegen'd explode +
    window + hash-aggregate pipeline even though it shuffles more
    rows. The exchange count is not the cost driver here."""
    from ..operators.dedup import cdc_chunk_stats

    return cdc_chunk_stats(scale_out(load(spark, sf_dir, "documents")),
                           w=_CDC_W, d=_CDC_D)


# ---------------------------------------------------------------------------
# x70 — cluster purity vs labels (embedding-space clustering evaluation)
# ---------------------------------------------------------------------------
# Does the embedding space's cluster structure agree with the labels?
# Per-IVF-cluster label purity — the evaluation run before trusting
# semantic dedup (x37) or IVF routing (x20/x42) on a new embedding
# model. Reuses the deterministic IVF coarse quantizer unchanged; the
# labels column of the embeddings table plays the ground truth.


_PURITY_DIM = 64
_PURITY_K = 16
_PURITY_SEED = 3


def _oracle_cluster_purity_sql() -> str:
    # assignment chain is the SHARED oracle_ivf_assign_ctes — one copy
    # of the quantizer semantics for x20 and x70 alike
    from ..operators.similarity import oracle_ivf_assign_ctes
    return f"""
    WITH {oracle_ivf_assign_ctes(dim=_PURITY_DIM, k_clusters=_PURITY_K,
                                 seed=_PURITY_SEED)}, lab AS (
        SELECT a.cid, CAST(e.label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY a.cid, e.label
    ), r AS (
        SELECT cid, label, n,
               SUM(n) OVER (PARTITION BY cid) AS n_vectors,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY n DESC, label ASC) AS rn
        FROM lab
    )
    SELECT cid, CAST(n_vectors AS BIGINT) AS n_vectors,
           label AS top_label, n AS top_n,
           CAST(n AS DOUBLE) / CAST(n_vectors AS DOUBLE) AS purity
    FROM r WHERE rn = 1
    """


@query("x70_cluster_purity", oracle=_oracle_cluster_purity_sql())
def x70_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster label purity of the IVF coarse quantizer: model from
    the ONE-job columnar-sums collect (_ivf_model_rows), assignment one
    Arrow kernel over the raw floats, then a (cluster, label)
    map-combined aggregate + one cluster-keyed window. Output is
    k_clusters rows: (cid, n_vectors, top_label, top_n, purity)."""
    from pyspark.sql import Window as W

    from ..operators.similarity import EMB_SCALE, _ivf_model_rows
    from ..operators.vectorized import ivf_assign_udf

    emb = load(spark, sf_dir, "embeddings")
    cents_rows, _ = _ivf_model_rows(emb, "vec_id", "embedding",
                                    _PURITY_K, _PURITY_SEED, _PURITY_DIM)
    assign = ivf_assign_udf(cents_rows, scale=EMB_SCALE)
    lab = (scale_out(emb, 8)
           .select(F.col("label").cast("long").alias("label"),
                   assign("embedding").alias("cid"))
           .groupBy("cid", "label")
           .agg(F.count(F.lit(1)).alias("n")))
    w = W.partitionBy("cid")
    r = (lab.withColumn("n_vectors", F.sum("n").over(w))
         .withColumn("rn", F.row_number().over(
             w.orderBy(F.col("n").desc(), F.col("label").asc()))))
    return (r.filter(F.col("rn") == 1)
            .select("cid", F.col("n_vectors").cast("long").alias("n_vectors"),
                    F.col("label").alias("top_label"),
                    F.col("n").alias("top_n"),
                    (F.col("n").cast("double")
                     / F.col("n_vectors").cast("double")).alias("purity")))


# ---------------------------------------------------------------------------
# x71 — feature-hashing text embedding (model-free doc vectors)
# ---------------------------------------------------------------------------
# The hashing-vectorizer bridge from raw text into the similarity
# ladder (Weinberger et al. 2009, "Feature Hashing for Large Scale
# Multitask Learning"): each token hashes ONCE (portable 60-bit md5)
# and contributes ±1 to feature d via bit (d mod 60) of its hash. The
# output vector is exact int64 counts — already on the engine's
# int-grid similarity contract (idot/qcos work on it unchanged, no
# quantization step), deterministic across engines and runs, and built
# without any external embedding model.

_FH_DIM = 64


def _oracle_feature_hash_sql() -> str:
    from ..functions.hashing import oracle_md5_long
    return f"""
    WITH t AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t -> {oracle_md5_long('t')}) AS hs
        FROM documents
    ), v AS (
        SELECT doc_id,
               list_transform(range(0, {_FH_DIM}),
                   d -> CAST(coalesce(list_sum(list_transform(hs,
                            h -> ((h >> (d % 60)) & 1) * 2 - 1)), 0)
                        AS BIGINT)) AS fvec
        FROM t
    ), n AS (
        SELECT doc_id, fvec,
               CAST(coalesce(list_sum(list_transform(fvec, x -> x * x)), 0)
                    AS BIGINT) AS fnorm2
        FROM v
    )
    SELECT doc_id, u.pos, u.f, fnorm2
    FROM (SELECT doc_id, fnorm2,
                 unnest(list_transform(range(1, len(fvec) + 1),
                        i -> {{'pos': CAST(i - 1 AS INTEGER),
                               'f': fvec[i]}})) AS u
          FROM n)
    """


@query("x71_feature_hash_embedding", oracle=_oracle_feature_hash_sql())
def x71_feature_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document embedding via the hashing trick: one Arrow
    kernel stage (vectorized.feature_hash_udf — one md5 per DISTINCT
    token per batch, memoized; ±1 expansion is a numpy take+sum), zero
    shuffles, exact int64 output bit-identical to the SQL list-HOF
    twin. The vector and its exact squared norm drop straight into the
    int-grid similarity operators (idot/qcos) — text-space ANN without
    an external model. Output unnested to (doc_id, pos, f, fnorm2)
    rows for the driver's value-hash (the x30 precedent); compose with
    the array form via feature_hash_udf directly."""
    from ..operators.similarity import idot
    from ..operators.vectorized import feature_hash_udf

    udf = feature_hash_udf(_FH_DIM)
    d = (scale_out(load(spark, sf_dir, "documents"))
         .select("doc_id", tokens("text").alias("toks"))
         .withColumn("fvec", udf("toks"))
         .withColumn("fnorm2", idot("fvec", "fvec")))
    return (d.select("doc_id", "fnorm2",
                     F.posexplode("fvec").alias("pos", "f"))
            .select("doc_id", F.col("pos").cast("int").alias("pos"),
                    "f", "fnorm2"))


# ---------------------------------------------------------------------------
# x72 — text-to-text top-k in hashed feature space (model-free retrieval)
# ---------------------------------------------------------------------------
# x71's vectors put raw text on the int-grid similarity contract; this
# closes the loop: exact cosine top-k between documents USING ONLY
# their hashed feature vectors — "semantic" search with zero external
# models, the fallback every retrieval stack wants before an embedding
# model exists. Query side = the first 10 docs (x07's convention).

_FH_NQ = 10
_FH_K = 5


def _oracle_fh_topk_sql() -> str:
    from ..functions.hashing import oracle_md5_long
    from ..operators.similarity import oracle_idot, oracle_qcos
    return f"""
    WITH t AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t -> {oracle_md5_long('t')}) AS hs
        FROM documents
    ), v AS (
        SELECT doc_id,
               list_transform(range(0, {_FH_DIM}),
                   d -> CAST(coalesce(list_sum(list_transform(hs,
                            h -> ((h >> (d % 60)) & 1) * 2 - 1)), 0)
                        AS BIGINT)) AS fvec
        FROM t
    ), base AS (
        SELECT doc_id, fvec, {oracle_idot('fvec', 'fvec')} AS n2 FROM v
    ), q AS (
        SELECT doc_id AS query_id, fvec AS qv, n2 AS qn2 FROM base
        WHERE doc_id < {_FH_NQ}
    ), joined AS (
        SELECT q.query_id, b.doc_id AS neighbor_id,
               {oracle_qcos(oracle_idot('q.qv', 'b.fvec'), 'q.qn2', 'b.n2')}
                   AS cosine
        FROM base b, q
        WHERE b.doc_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC)
                AS INTEGER) AS rank,
           cosine
    FROM joined
    QUALIFY rank <= {_FH_K}
    """


@query("x72_feature_hash_topk", oracle=_oracle_fh_topk_sql())
def x72_feature_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{5} over x71's hashed feature vectors: one
    feature-hash kernel stage, the tiny query side broadcast (x07's
    shape — the BNLJ is the whitelisted n_queries-row broadcast with a
    non-equi self-exclusion), derived-float cosines from exact int64
    dots/norms, one per-query top-k window. Raw-text retrieval with no
    model artifact anywhere. Output: (query_id, neighbor_id, rank,
    cosine)."""
    from pyspark.sql import Window as W

    from ..operators.similarity import idot
    from ..operators.vectorized import feature_hash_udf

    udf = feature_hash_udf(_FH_DIM)
    base = (scale_out(load(spark, sf_dir, "documents"))
            .select("doc_id", tokens("text").alias("toks"))
            .withColumn("fvec", udf("toks"))
            .withColumn("n2", idot("fvec", "fvec"))
            .withColumn("rt", F.sqrt(F.col("n2").cast("double")))
            .drop("toks"))
    q = (load(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < _FH_NQ)
         .select(F.col("doc_id").alias("query_id"),
                 tokens("text").alias("qtoks"))
         .withColumn("qv", udf("qtoks"))
         .withColumn("qrt", F.sqrt(idot("qv", "qv").cast("double")))
         .drop("qtoks"))
    joined = (base.join(F.broadcast(q),
                        F.col("doc_id") != F.col("query_id"))
              .select("query_id", F.col("doc_id").alias("neighbor_id"),
                      (idot("qv", "fvec").cast("double")
                       / (F.col("qrt") * F.col("rt"))).alias("cosine")))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                          F.col("neighbor_id").asc())
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _FH_K)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "cosine"))


# ---------------------------------------------------------------------------
# x73 — embedding coverage audit (modality-alignment hygiene)
# ---------------------------------------------------------------------------
# Before any embedding-dependent stage (ANN, semantic dedup, purity)
# runs over a corpus: which documents have no vector, and which vectors
# no longer have a document? The per-source breakdown is what a
# pipeline dashboard alerts on after every ingest.


@query(
    "x73_embedding_coverage",
    oracle="""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_embedding,
           CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings e2
            LEFT JOIN documents d2 ON d2.doc_id = e2.vec_id
            WHERE d2.doc_id IS NULL) AS n_orphan_vectors
    FROM documents d
    LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source
    """,
)
def x73_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-coverage audit: per-source counts of docs with/without
    a vector (one skinny id left join + map-combined aggregate — the
    embedding COLUMN never ships, only vec_id) plus the global
    orphan-vector count attached as a broadcast scalar. Output:
    (source, n_docs, n_with_embedding, n_missing, n_orphan_vectors)."""
    docs = scale_out(load(spark, sf_dir, "documents")) \
        .select("doc_id", "source")
    vecs = load(spark, sf_dir, "embeddings").select("vec_id")
    cov = (docs.join(vecs, docs.doc_id == vecs.vec_id, "left")
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("vec_id").isNotNull().cast("int"))
                .cast("long").alias("n_with_embedding"),
                F.sum(F.col("vec_id").isNull().cast("int"))
                .cast("long").alias("n_missing")))
    orphans = (vecs.join(docs.select("doc_id"),
                         vecs.vec_id == F.col("doc_id"), "left_anti")
               .agg(F.count(F.lit(1)).alias("n_orphan_vectors")))
    return cov.crossJoin(F.broadcast(orphans))


# ---------------------------------------------------------------------------
# x74 — TRAINED quality classifier (weights learned from labeled data)
# ---------------------------------------------------------------------------
# The x63 classifier's second half (VERDICT r6 task #4 / r7 #4): instead
# of the implicit hash weights, the (bucket, weight) table is LEARNED
# from labeled documents — Naive-Bayes-style count-ratio weights on an
# integer grid (ln-free: log-odds need exp/ln, which are not
# bit-portable across engines; the centered frequency ratio below is an
# exact integer in [-1000, 1000] with the log-odds' sign and
# monotonicity). Counts are CLASS-FREQUENCY NORMALIZED — raw-count
# ratios let the class prior swamp every shared-vocabulary token (first
# cut of this operator kept 0 of 500 docs); per-mille class frequencies
# fp = (n_pos·10^6) div T_pos, fn likewise, weight =
# (1000·(fp−fn)) div (fp+fn+1) make a token's weight about WHICH class
# uses it more, not how big the classes are. All int64: n_pos·10^6
# overflows only past ~9·10^12 tokens per class (lower freq_scale for a
# corpus beyond that). The label is the corpus's own `lang = 'en'` flag
# — a real, deterministic binary signal — so both engines train the
# identical model. Scoring is one BROADCAST JOIN of the ≤n_buckets-row
# weight table against the exploded token stream (the "swap in trained
# weights = one broadcast join" path x63's docstring promised), then a
# per-doc sum.

_TRAINED_BUCKETS = 2001


def bucketed_token_stream(docs: DataFrame, *,
                          buckets: int = _TRAINED_BUCKETS,
                          label=None) -> DataFrame:
    """One exploded (doc_id[, pos], n_tokens, bucket) token stream —
    the shared input of training AND scoring, so a caller running both
    can tokenize+hash the corpus ONCE (persist this) instead of once
    per consumer. explode_outer keeps zero-token docs alive as a
    null-bucket row (dropped by training, null-joined by scoring)."""
    from ..functions.hashing import md5_long

    toks = F.filter(tokens("text"), lambda t: t != F.lit(""))
    cols = [F.col("doc_id")]
    if label is not None:
        cols.append(F.when(label, F.lit(1)).otherwise(F.lit(0))
                    .alias("pos"))
    cols += [F.size(toks).cast("long").alias("n_tokens"),
             F.explode_outer(toks).alias("tok")]
    return (docs.select(*cols)
            .withColumn("bucket", md5_long("tok") % F.lit(buckets))
            .drop("tok"))


def classifier_score_with_weights(docs: DataFrame | None,
                                  weights: DataFrame, *,
                                  buckets: int = _TRAINED_BUCKETS,
                                  threshold: float = 0.0,
                                  bucketed: DataFrame | None = None,
                                  ) -> DataFrame:
    """Score documents with an explicit (bucket, weight) table: explode
    tokens ONCE (explode_outer keeps zero-token docs alive), bucket each
    token with the portable 60-bit md5, LEFT-broadcast-join the weight
    table, sum per doc. Exactly one corpus scan, one broadcast, one
    doc-keyed exchange — at 100 TB the weight table is KBs and the only
    shuffle is the per-doc rollup. Output matches x63's shape:
    (doc_id, n_tokens, score, mean_weight, keep). Pass ``bucketed`` (a
    bucketed_token_stream, usually persisted) to reuse a stream the
    trainer already paid for instead of re-scanning ``docs`` — in that
    mode ``docs`` may be None."""
    if bucketed is None and docs is None:
        raise ValueError(
            "classifier_score_with_weights needs either `docs` (a raw "
            "document table) or `bucketed` (a bucketed_token_stream)")
    ex = (bucketed if bucketed is not None
          else bucketed_token_stream(docs, buckets=buckets))
    scored = (ex.join(F.broadcast(weights), "bucket", "left")
              .groupBy("doc_id", "n_tokens")
              .agg(F.coalesce(F.sum("weight"), F.lit(0)).cast("long")
                   .alias("score")))
    mean_w = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("score").cast("double") / F.col("n_tokens").cast("double"))
    return scored.select("doc_id", "n_tokens", "score",
                         mean_w.alias("mean_weight"),
                         (mean_w > F.lit(threshold)).cast("int")
                         .alias("keep"))


def train_token_weights(docs: DataFrame | None = None, pos_label=None,
                        *, buckets: int = _TRAINED_BUCKETS,
                        weight_scale: int = 1000,
                        freq_scale: int = 1_000_000,
                        bucketed: DataFrame | None = None) -> DataFrame:
    """Learn the (bucket, weight) table from labeled docs. Per hash
    bucket, with T_pos/T_neg the global per-class token totals:

        fp = (n_pos · freq_scale) div T_pos      (per-mille-ish class freq)
        fn = (n_neg · freq_scale) div T_neg
        weight = (weight_scale · (fp − fn)) div (fp + fn + 1)

    — exact int64 everywhere, identical in any engine/order (both
    Spark's div and DuckDB's // truncate toward zero), and prior-free:
    normalizing by class totals keeps a shared-vocabulary token near 0
    instead of inheriting the majority class's sign. Plan: ONE exploded
    corpus pass feeding a ≤`buckets`-key map-combined aggregate; the
    global class totals are derived by summing that model-sized
    aggregate (not a second corpus pass — Σ_bucket n_pos IS t_pos) and
    joined back as a broadcast scalar; the output is a KB-scale model
    table. Pass ``bucketed`` (a bucketed_token_stream built with
    ``label=``, usually persisted) to train from a stream the scorer
    will reuse — in that mode ``docs``/``pos_label`` may be None, but
    the stream must carry the 0/1 ``pos`` label column."""
    if bucketed is None and (docs is None or pos_label is None):
        raise ValueError(
            "train_token_weights needs either (`docs`, `pos_label`) or "
            "a labeled `bucketed` stream")
    if bucketed is not None and "pos" not in bucketed.columns:
        raise ValueError(
            "train_token_weights: the `bucketed` stream has no `pos` "
            "column — build it with bucketed_token_stream(..., label=...)")
    ex = (bucketed if bucketed is not None
          else bucketed_token_stream(docs, buckets=buckets,
                                     label=pos_label)
          ).filter(F.col("bucket").isNotNull())
    m = ex.groupBy("bucket").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_neg"))
    tot = m.agg(F.sum("n_pos").alias("t_pos"),
                F.sum("n_neg").alias("t_neg"))
    return (m.crossJoin(F.broadcast(tot))
            .select("bucket",
                    F.expr(f"(n_pos * {freq_scale}) div t_pos").alias("fp"),
                    F.expr(f"(n_neg * {freq_scale}) div t_neg").alias("fn"))
            .select("bucket",
                    F.expr(f"({weight_scale} * (fp - fn)) div (fp + fn + 1)")
                    .alias("weight")))


def _oracle_trained_classifier_sql() -> str:
    from ..functions.hashing import oracle_md5_long
    b = _TRAINED_BUCKETS
    return f"""
    WITH tk AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ), e AS (
        SELECT doc_id, lang, ({oracle_md5_long('tok')} % {b}) AS bucket
        FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM tk)
    ), tot AS (
        SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_pos,
               CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS t_neg
        FROM e
    ), cnt AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        FROM e GROUP BY bucket
    ), w AS (
        SELECT bucket,
               CAST((1000 * (((n_pos * 1000000) // t_pos)
                             - ((n_neg * 1000000) // t_neg)))
                    // (((n_pos * 1000000) // t_pos)
                        + ((n_neg * 1000000) // t_neg) + 1) AS BIGINT) AS weight
        FROM cnt CROSS JOIN tot
    ), sc AS (
        SELECT e.doc_id, CAST(SUM(w.weight) AS BIGINT) AS score
        FROM e JOIN w USING (bucket) GROUP BY e.doc_id
    )
    SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
           CASE WHEN len(tk.toks) = 0 THEN 0.0
                ELSE CAST(coalesce(sc.score, 0) AS DOUBLE) / len(tk.toks)
                END AS mean_weight,
           CAST(CASE WHEN len(tk.toks) = 0 THEN 0.0
                     ELSE CAST(coalesce(sc.score, 0) AS DOUBLE) / len(tk.toks)
                     END > 0.0 AS INTEGER) AS keep
    FROM tk LEFT JOIN sc ON tk.doc_id = sc.doc_id
    """


@query("x74_quality_classifier_trained",
       oracle=_oracle_trained_classifier_sql())
def x74_quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end trained quality gate: learn integer count-ratio
    weights from the corpus's own lang='en' labels (train_token_weights),
    then score every document through the broadcast-join path
    (classifier_score_with_weights). keep=1 means "scores en-like" —
    on held-in data this is a real (if simple) trained language gate,
    the fastText-pipeline shape with an actual learned model table
    instead of x63's implicit hash weights. Cost at 100 TB: two corpus
    tokenize+hash passes (train + score — deliberately NOT persisted:
    caching a corpus-sized exploded token stream to save one scan is a
    bad trade at scale), one ≤2001-key model aggregate whose global
    class totals are derived from the aggregate itself (Σ_bucket n_pos
    IS t_pos — no third pass), one broadcast, one per-doc rollup
    exchange."""
    docs = scale_out(load(spark, sf_dir, "documents"))
    stream = bucketed_token_stream(docs, label=F.col("lang") == "en")
    w = train_token_weights(bucketed=stream)
    return classifier_score_with_weights(
        None, w, bucketed=stream.drop("pos"))


# -- x75: SCD Type-2 customer-profile history ---------------------------

_SCD_T0 = "1998-01-01"
_SCD_T1 = "1999-06-01"
_SCD_T2 = "2001-01-01"


def _scd_latest_sql(lo: str | None, hi: str) -> str:
    pred = f"o_orderdate < TIMESTAMP '{hi}'"
    if lo is not None:
        pred = f"o_orderdate >= TIMESTAMP '{lo}' AND {pred}"
    return f"""
    SELECT o_custkey AS custkey, o_orderstatus AS st,
           o_orderpriority AS pr, o_orderdate AS t
    FROM (SELECT *, row_number() OVER (
              PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders WHERE {pred})
    WHERE rn = 1"""


def _scd_merge_sql(dim: str, upd: str) -> str:
    """One SCD2 batch merge as pure SQL over CTEs ``dim`` (custkey, st,
    pr, vf, vt) and ``upd`` (custkey, st, pr, t) — the DuckDB twin of
    operators/scd.py's join + conditional-explode plan."""
    chg = ("d.st IS DISTINCT FROM u.st"
           " OR d.pr IS DISTINCT FROM u.pr")
    return f"""
    SELECT custkey, st, pr, vf, vt FROM {dim} WHERE vt IS NOT NULL
    UNION ALL
    SELECT d.custkey, d.st, d.pr, d.vf, u.t
    FROM {dim} d JOIN {upd} u USING (custkey)
    WHERE d.vt IS NULL AND ({chg})
    UNION ALL
    SELECT u.custkey, u.st, u.pr, u.t, NULL
    FROM {upd} u LEFT JOIN (SELECT * FROM {dim} WHERE vt IS NULL) d
         USING (custkey)
    WHERE d.custkey IS NULL OR ({chg})
    UNION ALL
    SELECT d.custkey, d.st, d.pr, d.vf, NULL
    FROM (SELECT * FROM {dim} WHERE vt IS NULL) d
         LEFT JOIN {upd} u USING (custkey)
    WHERE u.custkey IS NULL OR NOT ({chg})"""


def _oracle_scd2_sql() -> str:
    return f"""
    WITH dim0 AS (SELECT custkey, st, pr, t AS vf, CAST(NULL AS TIMESTAMP)
                         AS vt
                  FROM ({_scd_latest_sql(None, _SCD_T0)})),
    u1 AS ({_scd_latest_sql(_SCD_T0, _SCD_T1)}),
    u2 AS ({_scd_latest_sql(_SCD_T1, _SCD_T2)}),
    m1 AS ({_scd_merge_sql('dim0', 'u1')}),
    m2 AS ({_scd_merge_sql('m1', 'u2')})
    SELECT custkey, st AS order_status, pr AS order_priority,
           valid_from, valid_to
    FROM (SELECT custkey, st, pr, CAST(vf AS TIMESTAMP) AS valid_from,
                 CAST(vt AS TIMESTAMP) AS valid_to FROM m2)
    ORDER BY custkey, valid_from
    """


@query("x75_scd2_customer_history", oracle=_oracle_scd2_sql())
def x75_scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history of a customer profile dimension (latest order
    status/priority per customer), built from scratch and advanced by
    TWO batch merges (operators/scd.py) so every merge path is
    exercised on real data: the second merge sees closed rows from the
    first, no-op updates (unchanged status+priority), changed rows, and
    first-seen keys. The reference's sinks full-refresh dimensions
    (load_loan_detail.py to_sql replace); this is the history-keeping
    upgrade a warehouse needs once "what was this customer's status in
    March" is a real query. Scale shape per merge: one full-outer key
    join of the open slice vs the batch + a scan-local 0-2 row explode
    (operators/scd.py docstring); the batch prep here is one window per
    slice, all on the same custkey partitioning."""
    from pyspark.sql import Window as W

    from ..operators.scd import scd2_merge

    o = (load(spark, sf_dir, "orders")
         .select(F.col("o_custkey").alias("custkey"),
                 F.col("o_orderstatus").alias("order_status"),
                 F.col("o_orderpriority").alias("order_priority"),
                 F.col("o_orderdate").cast("timestamp").alias("t"),
                 "o_orderkey"))
    w = (W.partitionBy("custkey")
         .orderBy(F.desc("t"), F.desc("o_orderkey")))

    def latest(df):
        return (df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "o_orderkey"))

    dim0 = (latest(o.filter(F.col("t") < _SCD_T0))
            .select("custkey", "order_status", "order_priority",
                    F.col("t").alias("valid_from"),
                    F.lit(None).cast("timestamp").alias("valid_to")))
    u1 = (latest(o.filter((F.col("t") >= _SCD_T0)
                          & (F.col("t") < _SCD_T1)))
          .withColumnRenamed("t", "eff"))
    u2 = (latest(o.filter((F.col("t") >= _SCD_T1)
                          & (F.col("t") < _SCD_T2)))
          .withColumnRenamed("t", "eff"))
    tracked = ["order_status", "order_priority"]
    d1 = scd2_merge(dim0, u1, key="custkey", tracked=tracked)
    d2 = scd2_merge(d1, u2, key="custkey", tracked=tracked)
    return d2.orderBy("custkey", "valid_from")


def _oracle_scd2_events_sql() -> str:
    return """
    WITH lagged AS (
      SELECT o_custkey AS custkey, o_orderstatus AS st,
             o_orderpriority AS pr, o_orderdate AS t, o_orderkey AS seq,
             row_number() OVER w AS rn,
             lag(o_orderstatus) OVER w AS lst,
             lag(o_orderpriority) OVER w AS lpr
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    kept AS (
      SELECT * FROM lagged
      WHERE rn = 1 OR st IS DISTINCT FROM lst OR pr IS DISTINCT FROM lpr
    )
    SELECT custkey, st AS order_status, pr AS order_priority,
           CAST(t AS TIMESTAMP) AS valid_from,
           CAST(lead(t) OVER (PARTITION BY custkey ORDER BY t, seq)
                AS TIMESTAMP) AS valid_to
    FROM kept
    ORDER BY custkey, valid_from, seq
    """


@query("x76_scd2_event_log", oracle=_oracle_scd2_events_sql())
def x76_scd2_event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sourced SCD2: the customer-profile history built in ONE
    pass from the full order log (operators/scd.py scd2_from_events) —
    run compression keeps exactly the change boundaries, lead() closes
    each interval. The same history x75 reaches via batch merges, but
    as a single two-window plan on one custkey exchange: the shape for
    backfilling a dimension's history from an event archive at 100 TB
    (no per-batch iteration, per-key state is one spillable WindowExec
    run). Streaming twin: streaming/scd_apply.py applies the same log
    in micro-batches (scd2_apply_log) and lands bit-equal under any
    batching — run compression is associative."""
    from ..operators.scd import scd2_from_events

    ev = (load(spark, sf_dir, "orders")
          .select(F.col("o_custkey").alias("custkey"),
                  F.col("o_orderstatus").alias("order_status"),
                  F.col("o_orderpriority").alias("order_priority"),
                  F.col("o_orderdate").cast("timestamp").alias("eff"),
                  F.col("o_orderkey").alias("seq")))
    hist = scd2_from_events(ev, key="custkey",
                            tracked=["order_status", "order_priority"])
    return hist.orderBy("custkey", "valid_from")


def _oracle_pit_join_sql() -> str:
    return """
    WITH lagged AS (
      SELECT o_custkey AS custkey, o_orderstatus AS st,
             o_orderpriority AS pr, o_orderdate AS t, o_orderkey AS seq,
             row_number() OVER w AS rn,
             lag(o_orderstatus) OVER w AS lst,
             lag(o_orderpriority) OVER w AS lpr
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    kept AS (
      SELECT * FROM lagged
      WHERE rn = 1 OR st IS DISTINCT FROM lst OR pr IS DISTINCT FROM lpr
    ),
    hist AS (
      SELECT custkey, st, pr, t AS vf,
             lead(t) OVER (PARTITION BY custkey ORDER BY t, seq) AS vt
      FROM kept
    )
    SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS order_ts,
           h.st AS status_asof, h.pr AS priority_asof
    FROM orders o JOIN hist h
      ON h.custkey = o.o_custkey
     AND h.vf <= o.o_orderdate
     AND (h.vt IS NULL OR o.o_orderdate < h.vt)
    ORDER BY orderkey
    """


@query("x77_point_in_time_join", oracle=_oracle_pit_join_sql())
def x77_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free feature join: every order joined to the customer
    profile that was valid AT THE ORDER'S OWN TIMESTAMP (x76's SCD2
    history; operators/scd.py scd2_point_in_time_join) — the
    point-in-time-correct join a feature store runs so a training
    example never sees attributes from its future. Exactly one interval
    covers each fact, so the output is |orders| rows (the invariant the
    test pins). Scale shape: the history build is x76's single-exchange
    two-window pass; the join is an equi hash join on custkey with the
    interval predicate as residual — fan-out bounded by per-key change
    counts, never a cross product (no-BNLJ pinned)."""
    from ..operators.scd import scd2_from_events, scd2_point_in_time_join

    ev = (load(spark, sf_dir, "orders")
          .select(F.col("o_custkey").alias("custkey"),
                  F.col("o_orderstatus").alias("status_asof"),
                  F.col("o_orderpriority").alias("priority_asof"),
                  F.col("o_orderdate").cast("timestamp").alias("eff"),
                  F.col("o_orderkey").alias("seq")))
    hist = scd2_from_events(ev, key="custkey",
                            tracked=["status_asof", "priority_asof"])
    facts = (load(spark, sf_dir, "orders")
             .select(F.col("o_orderkey").alias("orderkey"),
                     F.col("o_custkey").alias("custkey"),
                     F.col("o_orderdate").cast("timestamp")
                     .alias("order_ts")))
    joined = scd2_point_in_time_join(facts, hist, key="custkey",
                                     ts_col="order_ts", how="inner")
    return (joined.select("orderkey", "custkey", "order_ts",
                          "status_asof", "priority_asof")
            .orderBy("orderkey"))


# ---------------------------------------------------------------------------
# x84-x88 — round-11 additions: training-export shuffle, LSH recall
# evaluation, hard-negative mining, curation yield, vocabulary growth
# ---------------------------------------------------------------------------

_SHARD_SEED = 84
_DOCS_PER_SHARD = 125  # constant per-shard size -> shard count grows with corpus


def _oracle_shard_shuffle_sql() -> str:
    from ..functions.hashing import oracle_md5_long

    key = oracle_md5_long("CAST(doc_id AS VARCHAR)", seed=_SHARD_SEED)
    return f"""
    WITH n AS (
        SELECT CAST(CEIL(COUNT(*) / {_DOCS_PER_SHARD}.0) AS BIGINT)
                   AS n_shards
        FROM documents
    ), keyed AS (
        SELECT doc_id, {key} AS shuffle_key FROM documents
    )
    SELECT k.doc_id, k.shuffle_key,
           k.shuffle_key % n.n_shards AS shard_id,
           CAST(row_number() OVER (
                    PARTITION BY k.shuffle_key % n.n_shards
                    ORDER BY k.shuffle_key, k.doc_id) AS BIGINT)
               AS pos_in_shard
    FROM keyed k, n
    """


@query("x84_shard_shuffle", oracle=_oracle_shard_shuffle_sql())
def x84_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + training-shard assignment:
    every document gets a pseudo-random 60-bit shuffle key (portable
    seeded md5), a shard id (key mod n_shards), and its position within
    the shard (ordered by key; ties impossible short of a hash collision,
    broken by doc_id anyway). This is the "global shuffle before
    training" export step a pretraining pipeline runs so adjacent source
    documents land in different shards at different positions,
    reproducibly across runs AND engines (RNG-free — the property a data
    lineage needs; compare x58's hash-drawn negatives).

    Scale shape: shard count GROWS with the corpus (~125 docs/shard via
    a count-scalar broadcast, x58's pattern), so per-shard row counts
    stay CONSTANT — the per-shard ordering window is a bounded sort at
    any corpus size, and the frame is write-ready (partitionBy(shard_id)
    + sortWithinPartitions is exactly the layout a sharded parquet/
    WebDataset writer wants). One hash per row, one exchange on
    shard_id, zero text movement — ids and keys only."""
    from pyspark.sql import Window as W

    from ..functions.hashing import md5_long

    docs = load(spark, sf_dir, "documents")
    n_row = docs.agg(
        F.ceil(F.count(F.lit(1)) / F.lit(float(_DOCS_PER_SHARD)))
        .cast("long").alias("n_shards"))
    keyed = scale_out(docs).select(
        "doc_id",
        md5_long(F.col("doc_id").cast("string"),
                 seed=_SHARD_SEED).alias("shuffle_key"))
    w = W.partitionBy("shard_id").orderBy("shuffle_key", "doc_id")
    return (keyed.crossJoin(F.broadcast(n_row))
            .withColumn("shard_id", F.col("shuffle_key") % F.col("n_shards"))
            .select("doc_id", "shuffle_key", "shard_id",
                    F.row_number().over(w).cast("long")
                    .alias("pos_in_shard")))


# ---------------------------------------------------------------------------
# x85 — LSH recall evaluation (the dedup family's x61)
# ---------------------------------------------------------------------------

_RECALL_ANCHORS = 50
_RECALL_TAU = 0.5  # true-Jaccard ground-truth threshold == x03's estimate cut


def _oracle_lsh_recall_sql() -> str:
    from ..operators.dedup import oracle_minhash_lsh_sql, oracle_shingle_hashes

    th, sh = oracle_shingle_hashes("text", 3)
    return f"""
    WITH pre AS (
        SELECT doc_id, {th} AS th FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), shc AS (
        SELECT doc_id, {sh} AS sh FROM pre
    ), shx AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shc
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM shx GROUP BY doc_id
    ), anch AS (
        SELECT doc_id AS anchor_id, s FROM shx
        WHERE doc_id < {_RECALL_ANCHORS}
    ), shared AS (
        SELECT a.anchor_id, c.doc_id AS partner_id, COUNT(*) AS shared
        FROM shx c JOIN anch a USING (s)
        WHERE c.doc_id <> a.anchor_id
        GROUP BY a.anchor_id, c.doc_id
    ), truth AS (
        SELECT sh.anchor_id, sh.partner_id
        FROM shared sh
        JOIN sizes na ON na.doc_id = sh.anchor_id
        JOIN sizes nb ON nb.doc_id = sh.partner_id
        WHERE sh.shared / CAST(na.n_sh + nb.n_sh - sh.shared AS DOUBLE)
              >= {_RECALL_TAU}
    ), lsh AS (
        SELECT doc_a, doc_b FROM ({oracle_minhash_lsh_sql()}) _l
    ), cand AS (
        SELECT doc_a AS anchor_id, doc_b AS partner_id FROM lsh
        UNION
        SELECT doc_b AS anchor_id, doc_a AS partner_id FROM lsh
    )
    SELECT t.anchor_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN c.partner_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN c.partner_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM truth t
    LEFT JOIN cand c
           ON c.anchor_id = t.anchor_id AND c.partner_id = t.partner_id
    GROUP BY t.anchor_id
    """


@query("x85_lsh_recall", oracle=_oracle_lsh_recall_sql())
def x85_lsh_recall(spark, sf_dir):
    """Measured recall of the MinHash+LSH near-dup index (x03) against
    EXACT 3-gram-Jaccard ground truth, per anchor — the dedup family's
    x61: the number the banding/threshold knobs are tuned against before
    anyone trusts an LSH dedup pass at scale. Ground truth is the
    sampled-anchor form every large-corpus recall eval uses (exact
    all-pairs is O(n²)): for the first {50} shingleable documents, every
    corpus partner with TRUE Jaccard >= 0.5; a truth pair counts as hit
    when the banded index (estimate >= 0.5) also surfaced it. Returns
    (anchor_id, n_true, n_hit, recall) for anchors with >= 1 true
    partner.

    Scale shape: the anchor shingle set is tiny and BROADCAST, so the
    ground-truth join streams the corpus inverted index scan-local
    (candidate volume = sum over shared shingles of anchor-df × 1,
    linear in corpus size); the LSH side reuses x03's banded plan
    unchanged. Only (id, shingle-hash) longs shuffle."""
    from ..operators.dedup import with_shingle_hashes

    docs = load(spark, sf_dir, "documents")
    d = (scale_out(docs)
         .filter(F.size(F.split("text", " ")) >= 3))
    shd = (with_shingle_hashes(d, "text", 3, out="_sh")
           .select("doc_id", F.array_distinct("_sh").alias("shs"))
           .withColumn("n_sh", F.size("shs").cast("long")))
    corpus = shd.select("doc_id", F.col("n_sh").alias("n_b"),
                        F.explode("shs").alias("s"))
    anch = (shd.filter(F.col("doc_id") < _RECALL_ANCHORS)
            .select(F.col("doc_id").alias("anchor_id"),
                    F.col("n_sh").alias("n_a"),
                    F.explode("shs").alias("s")))
    shared = (corpus.join(F.broadcast(anch), "s")
              .filter(F.col("doc_id") != F.col("anchor_id"))
              .groupBy("anchor_id", F.col("doc_id").alias("partner_id"),
                       "n_a", "n_b")
              .agg(F.count(F.lit(1)).alias("shared")))
    truth = (shared
             .filter(F.col("shared")
                     / (F.col("n_a") + F.col("n_b")
                        - F.col("shared")).cast("double")
                     >= F.lit(_RECALL_TAU))
             .select("anchor_id", "partner_id"))
    # NOT persisted (r13 opt adjudication): the symmetric union below
    # references `pairs` twice, but a full build+exec interleaved A/B
    # read no-persist 2.49-2.68 s vs eager-persist 3.00-3.38 s at sf0.1
    # — AQE's runtime stage reuse already collapses the duplicated x03
    # subplan (identical canonical exchanges), so the persist only adds
    # a materialization job and cache write. (A first A/B that timed
    # only the post-build action read the opposite; the corrected
    # methodology times spec.fn + action exactly as bench.py does.)
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    cand = (pairs.select(F.col("doc_a").alias("anchor_id"),
                         F.col("doc_b").alias("partner_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("anchor_id"),
                                      F.col("doc_a").alias("partner_id")))
            .filter(F.col("anchor_id") < _RECALL_ANCHORS)
            .distinct()
            .withColumn("hit", F.lit(1)))
    return (truth.join(cand, ["anchor_id", "partner_id"], "left")
            .groupBy("anchor_id")
            .agg(F.count(F.lit(1)).alias("n_true"),
                 F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
            .withColumn("recall",
                        F.col("n_hit").cast("double")
                        / F.col("n_true").cast("double")))


# ---------------------------------------------------------------------------
# x86 — ANN-mined hard negatives (contrastive curriculum's hard tier)
# ---------------------------------------------------------------------------


def _oracle_hard_negatives() -> str:
    from ..operators.similarity import oracle_hard_negatives_sql

    return oracle_hard_negatives_sql()


@query("x86_hard_negative_mining", oracle=_oracle_hard_negatives())
def x86_hard_negative_mining(spark, sf_dir):
    """Brute-force hard negatives (operators/similarity.hard_negatives):
    for each of the first 10 query vectors, the 5 nearest corpus
    vectors with a DIFFERENT label — the highest-similarity wrong-label
    examples a contrastive objective learns most from. x58 draws cheap
    uniform negatives; this is the hard tier the mining literature
    (DPR, ANCE) actually ships.

    r13 (VERDICT r12 #1): the registered plan is the Arrow-batched
    matmul form — the r12 JVM form (broadcast nested-loop join +
    interpreted per-pair HOF dot) measured 2.6× behind the oracle at
    2M vectors while this form measured 0.66×. The corpus streams
    through ONE mapInPandas stage (one int64 matmul per batch,
    n_queries·k survivors out) into the per-query top-k window; x93 is
    the ANN-routed production tier above it."""
    from ..operators.similarity import hard_negatives

    return hard_negatives(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x93 — ANN-routed hard-negative mining (the production tier above x86)
# ---------------------------------------------------------------------------


def _oracle_hard_negatives_ann() -> str:
    from ..operators.similarity import oracle_hard_negatives_ann_sql

    return oracle_hard_negatives_ann_sql()


@query("x93_hard_negatives_ann", oracle=_oracle_hard_negatives_ann())
def x93_hard_negatives_ann(spark, sf_dir):
    """ANN-routed hard-negative mining (operators/similarity
    .hard_negatives_ann), r13 VERDICT r12 #2: x20's IVF coarse
    quantizer routes each query to its nprobe=6 of 16 inverted lists,
    only vectors assigned to probed lists are scored (exact
    quantized-int cosine — misses possible, wrong scores not), and the
    label-mismatch top-k re-rank returns x86's schema. This is the
    production tier x86's docstring promised: candidate volume drops
    ~nprobe/k_clusters per query while x94 measures the recall cost.
    One KB-scale model job + ONE fused kernel map stage + the top-k
    window — nothing scales with corpus²."""
    from ..operators.similarity import hard_negatives_ann

    return hard_negatives_ann(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x94 — recall of the ANN mining tier vs the brute ground truth
# ---------------------------------------------------------------------------


def _oracle_hard_negative_ann_recall() -> str:
    from ..operators.similarity import oracle_hard_negative_ann_recall_sql

    return oracle_hard_negative_ann_recall_sql()


@query("x94_hard_negative_ann_recall",
       oracle=_oracle_hard_negative_ann_recall())
def x94_hard_negative_ann_recall(spark, sf_dir):
    """Recall@k of x93's ANN-routed hard negatives against x86's exact
    brute-force ground truth, per query (operators/similarity
    .hard_negative_ann_recall) — x61's eval shape for the mining
    family: the number the nprobe knob is tuned against before
    ANN-mined negatives ship. Both sides are the registered plans
    unchanged; the comparison join is n_queries x k rows."""
    from ..operators.similarity import hard_negative_ann_recall

    return hard_negative_ann_recall(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x87 — per-source curation yield after exact dedup (mixture accounting)
# ---------------------------------------------------------------------------


@query(
    "x87_token_yield",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               {oracle_token_count('text')} AS n_tokens,
               {oracle_fingerprint('text')} AS fp
        FROM documents
    ), k AS (
        SELECT source, n_tokens,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                    THEN 1 ELSE 0 END AS kept
        FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(kept) AS BIGINT) AS n_docs_kept,
           CAST(SUM(kept * n_tokens) AS BIGINT) AS n_tokens_kept,
           CAST(SUM(kept) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS doc_yield,
           CAST(SUM(kept * n_tokens) AS DOUBLE)
               / CAST(SUM(n_tokens) AS DOUBLE) AS token_yield
    FROM k GROUP BY source
    """,
)
def x87_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token yield after exact dedup — the mixture-design
    accounting row: how many documents/tokens each source contributes
    RAW versus after global exact dedup (first occurrence per content
    fingerprint wins, x01's rule), and the yield ratios. A source whose
    token_yield is low is mostly duplicating content already seen
    elsewhere — its mixture weight should reflect the DEDUPED count, not
    the raw one (the x83 matrix says WHERE the overlap goes; this says
    how much survives). Scale shape: fingerprint computed in-scan, ONE
    exchange on the 60-bit fp for the first-occurrence window, one
    map-combined rollup on source — token counts ride as longs, text
    never shuffles. Exact-integer sums, one terminal division (the
    cross-engine float contract)."""
    from pyspark.sql import Window as W

    d = (scale_out(load(spark, sf_dir, "documents"))
         .select("doc_id", "source",
                 token_count("text").alias("n_tokens"),
                 fingerprint("text").alias("fp")))
    kept = (F.col("doc_id") == F.min("doc_id").over(W.partitionBy("fp")))
    k = d.select("source", "n_tokens",
                 kept.cast("int").alias("kept"))
    return (k.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.sum("kept").alias("n_docs_kept"),
                 F.sum(F.col("kept") * F.col("n_tokens"))
                 .alias("n_tokens_kept"))
            .select("source", "n_docs", "n_tokens", "n_docs_kept",
                    "n_tokens_kept",
                    (F.col("n_docs_kept").cast("double")
                     / F.col("n_docs").cast("double")).alias("doc_yield"),
                    (F.col("n_tokens_kept").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("token_yield")))


# ---------------------------------------------------------------------------
# x88 — vocabulary growth curve (Heaps-law saturation diagnostic)
# ---------------------------------------------------------------------------


def _oracle_vocab_growth_sql() -> str:
    from ..operators.dedup import oracle_shingle_hashes

    th, sh = oracle_shingle_hashes("text", 3)
    return f"""
    WITH n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), pre AS (
        SELECT doc_id, {th} AS th FROM documents
    ), shc AS (
        SELECT doc_id, {sh} AS sh FROM pre
    ), shx AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shc
    ), first AS (
        SELECT s, MIN(doc_id) AS first_doc FROM shx GROUP BY s
    ), dec AS (
        SELECT LEAST(CAST(FLOOR(f.first_doc * 10.0 / n.n_docs) AS BIGINT),
                     9) AS decile
        FROM first f, n
    ), per AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_new_shingles
        FROM dec GROUP BY decile
    )
    SELECT decile, n_new_shingles,
           CAST(SUM(n_new_shingles) OVER (
                    ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_distinct_shingles
    FROM per
    """


@query("x88_vocab_growth", oracle=_oracle_vocab_growth_sql())
def x88_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (Heaps' law diagnostic): distinct 3-gram
    shingles whose FIRST occurrence falls in each ingestion-order decile
    of the corpus, plus the cumulative distinct count — the saturation
    curve that tells you whether the tail of a crawl still contributes
    novel content (flat tail → more data from this source buys nothing;
    x40 scores the same phenomenon per document, this is the corpus-level
    planning view). Scale shape: one scan-local shingle pass, ONE
    exchange on the shingle hash for the min-doc aggregate (map-side
    combined), a <= 10-row rollup, and a 10-row cumulative window —
    nothing downstream of the first aggregate scales with the corpus."""
    from pyspark.sql import Window as W

    from ..operators.dedup import with_shingle_hashes

    docs = load(spark, sf_dir, "documents")
    n_row = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    shx = (with_shingle_hashes(scale_out(docs), "text", 3, out="_sh")
           .select("doc_id", F.explode_outer(F.array_distinct("_sh"))
                   .alias("s"))
           .filter(F.col("s").isNotNull()))
    first = shx.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    dec = (first.crossJoin(F.broadcast(n_row))
           .select(F.least(
               F.floor(F.col("first_doc") * F.lit(10.0)
                       / F.col("n_docs")).cast("long"),
               F.lit(9).cast("long")).alias("decile")))
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_new_shingles"))
    w = (W.orderBy("decile")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return per.select(
        "decile", "n_new_shingles",
        F.sum("n_new_shingles").over(w).cast("long")
        .alias("cum_distinct_shingles"))


# ---------------------------------------------------------------------------
# x91 — per-label embedding centroid map (domain similarity for mixture
# design)
# ---------------------------------------------------------------------------

_CM_DIM = 64


def _oracle_centroid_map_sql(dim: int = _CM_DIM) -> str:
    from ..operators.similarity import oracle_idot, oracle_int_vec, oracle_qcos

    cos = oracle_qcos(oracle_idot("a.cv", "b.cv"), "a.n2", "b.n2")
    return f"""
    WITH base AS (
        SELECT label, {oracle_int_vec('embedding')} AS sv FROM embeddings
    ), cn AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base GROUP BY label
    ), per AS (
        SELECT label, i, SUM(sv[i + 1]) AS s
        FROM base, range({dim}) t(i)
        GROUP BY label, i
    ), cents AS (
        SELECT p.label, c.cnt,
               list(CAST(FLOOR(CAST(p.s AS DOUBLE)
                               / CAST(c.cnt AS DOUBLE)) AS BIGINT)
                    ORDER BY p.i) AS cv
        FROM per p JOIN cn c USING (label)
        GROUP BY p.label, c.cnt
    ), cc AS (
        SELECT label, cnt, cv, {oracle_idot('cv', 'cv')} AS n2 FROM cents
    )
    SELECT a.label AS label_a, b.label AS label_b,
           a.cnt AS n_a, b.cnt AS n_b, {cos} AS cosine
    FROM cc a JOIN cc b ON a.label < b.label
    """


@query("x91_label_centroid_map", oracle=_oracle_centroid_map_sql())
def x91_label_centroid_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding CENTROIDS — the
    domain-similarity map mixture design reads before setting sampling
    weights (two "different" domains whose centroids sit at cosine 0.9
    are one domain counted twice — the embedding-space twin of x45/x90's
    lexical overlap signals; DoReMi/DoGE-style reweighting starts from
    exactly this matrix). Centroids are integer means on the 1e-6 grid —
    floor(exact int64 dim-sum / count), the same two IEEE casts as the
    IVF quantizer init (operators/vectorized.py) — so both engines build
    bit-identical centroids and the cosine is three IEEE roundings from
    exact ints.

    Scale shape: ONE map-side-combined aggregate over the corpus
    (label → count + 64 exact int64 dim-sums, x80's dim-sum pattern) —
    the exchange carries |labels|·65 longs regardless of corpus size;
    everything downstream (centroid division, pairwise join) is
    dimension-sized. The pairwise self-join broadcasts ≤|labels| rows
    under a non-equi < predicate (plan-sweep whitelisted scalar-scale
    BNLJ, x07's shape)."""
    from ..operators.similarity import idot, int_vec, qcos

    emb = scale_out(load(spark, sf_dir, "embeddings"))
    base = emb.select("label", int_vec("embedding").alias("sv"))
    sums = F.expr("array(" + ", ".join(
        f"sum(sv[{i}])" for i in range(_CM_DIM)) + ")").alias("_sums")
    agg = base.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"), sums)
    cv = F.transform(
        F.col("_sums"),
        lambda s: F.floor(s.cast("double")
                          / F.col("cnt").cast("double")).cast("long"))
    cc = (agg.select("label", "cnt", cv.alias("cv"))
          .withColumn("n2", idot("cv", "cv")))
    a, b = cc.alias("a"), cc.alias("b")
    return (F.broadcast(a).join(b, F.col("a.label") < F.col("b.label"))
            .select(F.col("a.label").alias("label_a"),
                    F.col("b.label").alias("label_b"),
                    F.col("a.cnt").alias("n_a"),
                    F.col("b.cnt").alias("n_b"),
                    qcos(idot(F.col("a.cv"), F.col("b.cv")),
                         F.col("a.n2"), F.col("b.n2")).alias("cosine")))
