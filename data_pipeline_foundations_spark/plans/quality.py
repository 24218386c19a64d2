"""Training-data pipeline queries, part 3: corpus-quality filters, PII
redaction, keyword retrieval (x22-x24).

Completes the curation surface of plans/extensions.py + plans/training.py
with the remaining operators a production LLM-data pipeline runs before
training: Gopher-style repetition filters, PII scrubbing, and BM25
first-stage retrieval. The reference repo has none of these (its ETL is
financial snapshot pandas), so the citations are per-operator design notes;
SURVEY.md §7.6 inventories the family.

Every stat here is scan-local (HOFs over the token array, regexp built-ins)
— zero shuffles for x22/x23; x24's only shuffle is the postings groupBy
(see operators/retrieval.py for the scale analysis).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint, oracle_dup_ngram_frac, oracle_fingerprint,
    oracle_pii_counts, oracle_pii_redact, oracle_token_count,
    oracle_top_token_frac, oracle_unique_token_ratio, pii_counts,
    pii_redact, with_repetition_stats,
)
from ..operators.dedup import (
    decontaminate, incremental_dedup, oracle_decontaminate_sql,
)
from ..operators.retrieval import bm25_topk, oracle_bm25_topk_sql
from ..operators.sketches import hll_distinct_by, oracle_hll_distinct_sql
from ..operators.sampling import (
    oracle_stratum_quantile_ctes, stratum_quantile_thresholds,
)
from ..registry import query
from ..tables import load, scale_out

# ---------------------------------------------------------------------------
# x22 — repetition quality filters (Gopher-style)
# ---------------------------------------------------------------------------
# Thresholds chosen to split the synthetic corpus non-trivially (sf0.01
# medians: unique_token_ratio ~0.46, top_token_frac ~0.09, dup_bigram_frac
# ~0.03); on real data these would come from held-out calibration, per
# Rae et al. 2021 (Gopher) §A1.1's repetition-filter family.

MIN_UNIQUE_RATIO = 0.45
MAX_TOP_TOKEN = 0.12
MAX_DUP_BIGRAM = 0.05


@query(
    "x22_repetition_filters",
    oracle=f"""
    SELECT doc_id, lang, {oracle_token_count('text')} AS n_tokens,
           {oracle_unique_token_ratio('text')} AS unique_token_ratio,
           {oracle_top_token_frac('text')} AS top_token_frac,
           {oracle_dup_ngram_frac('text', 2)} AS dup_bigram_frac,
           ({oracle_unique_token_ratio('text')} >= CAST({MIN_UNIQUE_RATIO!r} AS DOUBLE)
            AND {oracle_top_token_frac('text')} <= CAST({MAX_TOP_TOKEN!r} AS DOUBLE)
            AND {oracle_dup_ngram_frac('text', 2)} <= CAST({MAX_DUP_BIGRAM!r} AS DOUBLE))
               AS keep
    FROM documents
    """,
)
def x22_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals + keep verdict: lexical diversity
    (distinct/total tokens), most-common-token fraction (sorted-array fold,
    no explode), duplicate-bigram fraction. Staged projections compute
    each lambda-bearing intermediate exactly once
    (functions/text.py with_repetition_stats); the filter costs one corpus
    scan and zero shuffles at any scale."""
    d = with_repetition_stats(load(spark, sf_dir, "documents"), "text", 2)
    return d.select(
        "doc_id", "lang", "n_tokens", "unique_token_ratio",
        "top_token_frac",
        F.col("dup_ngram_frac").alias("dup_bigram_frac"),
        ((F.col("unique_token_ratio") >= F.lit(MIN_UNIQUE_RATIO))
         & (F.col("top_token_frac") <= F.lit(MAX_TOP_TOKEN))
         & (F.col("dup_ngram_frac") <= F.lit(MAX_DUP_BIGRAM))).alias("keep"))


# ---------------------------------------------------------------------------
# x23 — PII detection + redaction
# ---------------------------------------------------------------------------
# The synthetic corpus contains no PII, so the query derives a
# deterministic PII-bearing column from doc_id first (one modulus per
# class, so every subset combination occurs) and then runs the real
# operator over it — the redaction is observable and oracle-checked, and
# the operator itself (functions/text.py pii_counts / pii_redact) is what
# a real pipeline would point at its raw text column.

_SYNTH_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 3 > 0 THEN"
    "   concat(' contact user', CAST(doc_id AS STRING), '@example.com')"
    "   ELSE '' END,"
    " CASE WHEN doc_id % 2 = 0 THEN"
    "   concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    "   ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN"
    "   concat(' from 10.0.', CAST(doc_id % 256 AS STRING), '.',"
    "          CAST(doc_id % 100 AS STRING))"
    "   ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN"
    "   concat(' card 4111-1111-1111-',"
    "          lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    "   ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN"
    "   concat(' ssn 123-45-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    "   ELSE '' END)")

_SYNTH_SQL = (
    "text ||"
    " (CASE WHEN doc_id % 3 > 0 THEN"
    "   ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    "   ELSE '' END) ||"
    " (CASE WHEN doc_id % 2 = 0 THEN"
    "   ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    "   ELSE '' END) ||"
    " (CASE WHEN doc_id % 5 = 0 THEN"
    "   ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||"
    "   CAST(doc_id % 100 AS VARCHAR)"
    "   ELSE '' END) ||"
    " (CASE WHEN doc_id % 7 = 0 THEN"
    "   ' card 4111-1111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    "   ELSE '' END) ||"
    " (CASE WHEN doc_id % 11 = 0 THEN"
    "   ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    "   ELSE '' END)")

_ORACLE_PII = oracle_pii_counts("raw")
_ORACLE_PII_SUM = " + ".join(_ORACLE_PII.values())


@query(
    "x23_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           {", ".join(f"{e} AS n_{name}" for name, e in _ORACLE_PII.items())},
           ({_ORACLE_PII_SUM} > 0) AS has_pii,
           {oracle_pii_redact('raw')} AS redacted
    FROM (SELECT doc_id, {_SYNTH_SQL} AS raw FROM documents)
    """,
)
def x23_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and scrub five PII classes (email, phone, IPv4,
    separator-form credit card, SSN-shaped national id): JVM-side
    regexp_count + global regexp_replace with typed placeholders,
    patterns restricted to the Java-regex ∩ RE2 common subset
    (functions/text.py PII_PATTERNS). Scan-local, zero shuffles; at
    100 TB this is a pure map stage that fuses with whatever filter
    follows."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_SPARK).alias("raw"))
    counts = pii_counts("raw")
    total = sum(counts.values(), F.lit(0))
    return d.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        (total > 0).alias("has_pii"),
        pii_redact("raw").alias("redacted"))


# ---------------------------------------------------------------------------
# x24 — BM25 keyword retrieval (inverted-index shape)
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "window", "scan", "merge", "vector")
BM25_K = 20


@query("x24_bm25_topk", oracle=oracle_bm25_topk_sql(BM25_TERMS, BM25_K))
def x24_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by log-free BM25 for a fixed 6-term query.
    Postings are pruned at the scan (token-array filter before explode),
    document frequencies and corpus stats broadcast, top-k is
    TakeOrderedAndProject — see operators/retrieval.py for the full scale
    and determinism analysis."""
    return bm25_topk(load(spark, sf_dir, "documents"), BM25_TERMS, BM25_K)


# ---------------------------------------------------------------------------
# x25 — benchmark decontamination (n-gram overlap sweep)
# ---------------------------------------------------------------------------
# Pseudo-benchmark: every 17th doc_id stands in for the eval set (a real
# pipeline points bench_pred at its benchmark table).

_BENCH_WHERE = "doc_id % 17 = 0"


@query("x25_decontamination",
       oracle=oracle_decontaminate_sql(_BENCH_WHERE))
def x25_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing any 5-gram with the benchmark subset
    (doc_id % 17 == 0): the standard eval-contamination sweep. The
    benchmark's distinct shingle hashes broadcast; corpus shingles die
    map-side unless they collide — no corpus self-join, longs-only
    shuffle (operators/dedup.py decontaminate)."""
    return decontaminate(load(spark, sf_dir, "documents"),
                         F.col("doc_id") % 17 == 0)


@query("x92_decon_two_tier",
       oracle=oracle_decontaminate_sql(_BENCH_WHERE))
def x92_decon_two_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed bloom→exact-verify decontamination path (r12,
    VERDICT r11 #5) as a registered end-to-end surface: a packed
    bitset pre-filter — since r13 sized FROM the benchmark's distinct
    shingle count (ADVICE: the fixed 2^14-bit demo constant saturated
    past a few thousand benchmark shingles) — kills non-colliding
    corpus shingles inside the scan, and ONLY the survivor trickle
    reaches the exact benchmark join — the >broadcast-limit routing
    x25's operator docstring promises. The oracle is x25's exact
    decontamination SQL VERBATIM: bloom has no false negatives and the
    exact join removes its false positives, so the composition is
    provably output-identical to the exact path FOR ANY BITSET SIZE
    (also pinned plan-vs-plan in tests/test_text_quality.py). Same
    pseudo-benchmark as x25 (operators/dedup.py decontaminate_two_tier)."""
    from ..operators.dedup import decontaminate_two_tier
    return decontaminate_two_tier(load(spark, sf_dir, "documents"),
                                  F.col("doc_id") % 17 == 0)


# ---------------------------------------------------------------------------
# x26 — adaptive per-language quality window (p10/p90 trim)
# ---------------------------------------------------------------------------


@query(
    "x26_adaptive_quality_window",
    oracle=f"""
    WITH {oracle_stratum_quantile_ctes(strata_sql='lang',
                                       value_sql='n_chars')}
    SELECT d.doc_id, d.lang, d.n_chars,
           t.lo_value AS lo_chars, t.hi_value AS hi_chars,
           (d.n_chars >= t.lo_value AND d.n_chars <= t.hi_value) AS keep
    FROM documents d JOIN thresholds t ON t.strata = d.lang
    """,
)
def x26_adaptive_quality_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language p10/p90 length window, computed from a value
    HISTOGRAM (shuffle bounded by distinct (lang, n_chars) values, never
    corpus rows) in exact integer arithmetic, then broadcast back onto
    the corpus as a keep flag — the adaptive-threshold trim a curation
    pipeline runs instead of hard-coded cutoffs
    (operators/sampling.py stratum_quantile_thresholds)."""
    d = load(spark, sf_dir, "documents")
    thr = stratum_quantile_thresholds(d, strata_col="lang",
                                      value_col="n_chars")
    return (d.join(F.broadcast(thr), "lang")
            .select("doc_id", "lang", "n_chars",
                    F.col("lo_value").alias("lo_chars"),
                    F.col("hi_value").alias("hi_chars"),
                    ((F.col("n_chars") >= F.col("lo_value"))
                     & (F.col("n_chars") <= F.col("hi_value"))).alias("keep")))


# ---------------------------------------------------------------------------
# x27 — deterministic HyperLogLog distinct sketch
# ---------------------------------------------------------------------------


@query("x27_hll_distinct", oracle=oracle_hll_distinct_sql())
def x27_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-fingerprint cardinality two ways: a
    cross-engine-deterministic HLL sketch (m=256, integer-only register
    math, bit-identical estimate on both engines) next to the exact
    count. The sketch's shuffle is |langs|x256 registers regardless of
    corpus size and merges associatively across shards
    (operators/sketches.py). The exact ``countDistinct`` twin is joined
    HERE, not inside the operator — it exists purely so the oracle can
    verify the estimate against ground truth; a production caller gets
    the O(strata*256) sketch without paying this shuffle."""
    d = load(spark, sf_dir, "documents")
    exact = (d.select(F.col("lang").alias("strata"),
                      fingerprint("text").alias("h"))
             .groupBy("strata")
             .agg(F.countDistinct("h").alias("n_exact")))
    return (hll_distinct_by(d).join(exact, "strata")
            .select(F.col("strata").alias("lang"), "est_distinct",
                    "zero_registers", "n_exact"))


# ---------------------------------------------------------------------------
# x28 — incremental batch dedup vs a fingerprint history
# ---------------------------------------------------------------------------
# History simulated as the doc_id % 4 == 0 slice (in production the
# history side is the bucketed fingerprint store —
# operators/dedup.py dedup_against_store; tests exercise that path with
# the Exchange-free probe pinned).

_ORACLE_FP = oracle_fingerprint("text")


@query(
    "x28_incremental_dedup",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang, {_ORACLE_FP} AS fp FROM documents
        WHERE doc_id % 4 <> 0
    ), h AS (
        SELECT {_ORACLE_FP} AS fp FROM documents WHERE doc_id % 4 = 0
    ), first AS (
        SELECT fp, MIN(doc_id) AS doc_id FROM b GROUP BY fp
    )
    SELECT b.doc_id, b.lang, b.fp
    FROM b JOIN first USING (fp, doc_id)
    WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.fp = b.fp)
    """,
)
def x28_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch dedup against accumulated history: first occurrence per
    fingerprint within the batch, minus fingerprints already accepted.
    The batch pays one fingerprint groupBy; the history side of the
    anti-join never re-shuffles when it is the bucketed store
    (operators/dedup.py incremental_dedup / dedup_against_store)."""
    d = load(spark, sf_dir, "documents")
    history = (d.filter(F.col("doc_id") % 4 == 0)
               .select(fingerprint("text").alias("fp")))
    batch = d.filter(F.col("doc_id") % 4 != 0)
    return (incremental_dedup(batch, history)
            .select("doc_id", "lang", "fp"))


# ---------------------------------------------------------------------------
# x32 — corpus vocabulary induction (top-k tokens by frequency)
# ---------------------------------------------------------------------------

VOCAB_K = 100


@query(
    "x32_vocab_topk",
    oracle=f"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT {VOCAB_K}
    """,
)
def x32_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} corpus tokens by frequency — the vocabulary-induction
    scan a tokenizer-training pipeline runs first. The token shuffle is
    map-side partially aggregated (each partition ships its local
    (token, count) partials, not raw tokens) and the limit is
    TakeOrderedAndProject with a deterministic (n desc, token asc)
    tie-break — no global sort at any scale."""
    d = scale_out(load(spark, sf_dir, "documents"))
    return (d.select(F.explode_outer(F.split("text", " ")).alias("token"))
            .filter(F.col("token").isNotNull() & (F.col("token") != ""))
            .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("token").asc())
            .limit(VOCAB_K))


# ---------------------------------------------------------------------------
# x33 — token rarity score (corpus-relative quality signal)
# ---------------------------------------------------------------------------


def _oracle_x33_sql() -> str:
    from ..functions.hashing import oracle_md5_long
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), t AS (
        SELECT doc_id, {oracle_md5_long('token')} AS tk
        FROM toks WHERE token <> ''
    ), cf AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS tok_cf FROM t GROUP BY tk
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(tok_cf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_token_freq
    FROM t JOIN cf USING (tk)
    GROUP BY doc_id
    """


@query(
    "x33_token_rarity",
    oracle=_oracle_x33_sql(),
)
def x33_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean corpus-frequency of each document's tokens — the
    corpus-RELATIVE quality signal (gibberish and boilerplate sit at
    the two extremes) that x22's doc-local stats cannot express.
    Scale shape: tokens are replaced by their 60-bit md5 longs AT THE
    SCAN (the dedup family's hash-as-identity contract, in BOTH
    engines) so the corpus-frequency aggregate, the join-back, and the
    persisted intermediate all exchange fixed-width longs instead of
    strings — r11's 5M-doc probe read 11.9x vs the columnar oracle on
    the string form (two corpus-scale string exchanges, 14.6x/decade
    growth); a 60-bit collision would merge the same two tokens in both
    engines, so the twin stays exact. The hashed token table is LAZILY
    PERSISTED — it feeds the frequency aggregate AND the join-back, and
    AQE compiles those as independent subtrees (no ReusedExchange), so
    without the persist the scan + split + md5 pipeline executed twice;
    the per-doc rollup is one more map-side-combined shuffle. Exact
    integer sum, one final double division — cross-engine bit-stable."""
    from ..functions.hashing import md5_long
    from ..operators.caching import tracked_persist
    d = scale_out(load(spark, sf_dir, "documents"))
    toks = tracked_persist(
        d.select("doc_id",
                 F.explode_outer(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
        .select("doc_id", md5_long(F.col("token")).alias("tk")),
        eager=False)
    cf = toks.groupBy("tk").agg(F.count(F.lit(1)).alias("tok_cf"))
    return (toks.join(cf, "tk")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("tok_cf").alias("_sum_cf"))
            .select("doc_id", "n_tokens",
                    (F.col("_sum_cf").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("mean_token_freq")))


# ---------------------------------------------------------------------------
# x34 — URL / domain extraction (web-corpus curation primitive)
# ---------------------------------------------------------------------------
# The scan behind domain blocklists and per-domain mixture weights.
# Synthetic URL-bearing column like x23's PII synth (the corpus has no
# URLs); patterns in the Java-regex ∩ RE2 subset.

_URL_RE = r"https?://[A-Za-z0-9.-]+(?:/[^ ]*)?"
_DOMAIN_RE = r"^https?://([^/]+)"

_URL_SYNTH_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN"
    "   concat(' ref https://news.example.org/item/', CAST(doc_id AS STRING))"
    "   ELSE '' END,"
    " CASE WHEN doc_id % 2 = 0 THEN"
    "   concat(' src http://cdn', CAST(doc_id % 5 AS STRING),"
    "          '.example.com/x')"
    "   ELSE '' END)")

_URL_SYNTH_SQL = (
    "text ||"
    " (CASE WHEN doc_id % 3 = 0 THEN"
    "   ' ref https://news.example.org/item/' || CAST(doc_id AS VARCHAR)"
    "   ELSE '' END) ||"
    " (CASE WHEN doc_id % 2 = 0 THEN"
    "   ' src http://cdn' || CAST(doc_id % 5 AS VARCHAR) ||"
    "   '.example.com/x'"
    "   ELSE '' END)")


@query(
    "x34_url_stats",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_URL_SYNTH_SQL} AS raw FROM documents
    ), u AS (
        SELECT doc_id, regexp_extract_all(raw, '{_URL_RE}', 0) AS urls
        FROM raw
    ), d AS (
        SELECT doc_id, CAST(len(urls) AS BIGINT) AS n_urls,
               list_distinct(list_transform(urls,
                   x -> regexp_extract(x, '{_DOMAIN_RE}', 1))) AS doms
        FROM u
    )
    SELECT doc_id, n_urls,
           CAST(len(doms) AS BIGINT) AS n_distinct_domains,
           CASE WHEN len(doms) = 0 THEN NULL ELSE list_min(doms) END
               AS first_domain
    FROM d
    """,
)
def x34_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document URL count, distinct-domain count, and the
    lexicographically first domain — the extraction pass behind domain
    blocklists and per-domain mixture weighting in web-corpus curation.
    regexp_extract_all + array HOFs, scan-local, zero shuffles."""
    d = (load(spark, sf_dir, "documents")
         .select("doc_id", F.expr(_URL_SYNTH_SPARK).alias("raw"))
         .withColumn("_urls",
                     F.regexp_extract_all("raw", F.lit(_URL_RE), F.lit(0)))
         .withColumn("_doms", F.array_distinct(F.transform(
             "_urls",
             lambda x: F.regexp_extract(x, _DOMAIN_RE, 1)))))
    return d.select(
        "doc_id",
        F.size("_urls").cast("long").alias("n_urls"),
        F.size("_doms").cast("long").alias("n_distinct_domains"),
        F.when(F.size("_doms") == 0, F.lit(None).cast("string"))
        .otherwise(F.array_min("_doms")).alias("first_domain"))


# ---------------------------------------------------------------------------
# x35 — HTML boilerplate stripping (web-corpus cleaning)
# ---------------------------------------------------------------------------
# Tag removal + the common entity decodes + whitespace renormalization —
# the first cleaning pass over crawled text. Synthetic markup like x23's
# synth (the corpus is plain text).

_TAG_RE = r"<[^>]+>"

_HTML_SYNTH_SPARK = (
    "CASE WHEN doc_id % 2 = 0 THEN"
    "  concat('<p class=\"body\">', text, '</p> &amp; <br/>')"
    " WHEN doc_id % 3 = 0 THEN"
    "  concat('<div><span>', text, '</span> &lt;ok&gt;</div>')"
    " ELSE text END")

_HTML_SYNTH_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN"
    "  '<p class=\"body\">' || text || '</p> &amp; <br/>'"
    " WHEN doc_id % 3 = 0 THEN"
    "  '<div><span>' || text || '</span> &lt;ok&gt;</div>'"
    " ELSE text END")


@query(
    "x35_html_strip",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_HTML_SYNTH_SQL} AS raw FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_TAG_RE}')) AS BIGINT)
               AS n_tags,
           trim(regexp_replace(
               replace(replace(replace(
                   regexp_replace(raw, '{_TAG_RE}', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '\\s+', ' ', 'g')) AS clean_text
    FROM raw
    """,
)
def x35_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip markup from crawled text: remove tags (counted), decode the
    common entities, renormalize whitespace — the first cleaning pass of
    a web-corpus pipeline. Pure regexp/replace builtins in the
    Java-regex ∩ RE2 subset; scan-local, zero shuffles."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_HTML_SYNTH_SPARK).alias("raw"))
    decoded = F.expr(
        "replace(replace(replace({s}, '&amp;', '&'), '&lt;', '<'),"
        " '&gt;', '>')".format(s="regexp_replace(raw, '<[^>]+>', ' ')"))
    return d.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_TAG_RE)).cast("long").alias("n_tags"),
        F.trim(F.regexp_replace(decoded, r"\s+", " ")).alias("clean_text"))


# ---------------------------------------------------------------------------
# x43 — cross-document boilerplate segment removal (line-dedup analog)
# ---------------------------------------------------------------------------
# The corpus is synthetic prose with no shared chrome, so — like x23's
# PII synth and x34/x35's URL/HTML synth — every document is prefixed
# with its source's 8-token navigation header; the operator must strip
# exactly that shared first segment (25+ docs per source >> min_df=5)
# and keep the prose segments, which never repeat across documents.

_BOILER_SEG = 8
_BOILER_MIN_DF = 5
_BOILER_HDR_SPARK = ("concat('nav menu home about contact rss login ', "
                     "source, ' ', text)")
_BOILER_HDR_SQL = ("'nav menu home about contact rss login ' || source"
                   " || ' ' || text")


@query(
    "x43_boilerplate_segments",
    oracle=__import__(
        "data_pipeline_foundations_spark.operators.dedup",
        fromlist=["oracle_boilerplate_segments_sql"],
    ).oracle_boilerplate_segments_sql(
        seg_tokens=_BOILER_SEG, min_df=_BOILER_MIN_DF,
        raw_sql=_BOILER_HDR_SQL),
)
def x43_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal — the line-dedup pass of
    CCNet/RefinedWeb-style web curation over 8-token segments: a segment
    repeating in >= 5 documents of the same source is chrome
    (header/footer/nav), and each document is reassembled from its
    surviving segments in order. Three long-keyed shuffles total
    (df aggregate, flag join-back, per-doc reassembly); segments
    explode scan-locally (operators/dedup.py
    remove_boilerplate_segments)."""
    from ..operators.dedup import remove_boilerplate_segments
    d = (load(spark, sf_dir, "documents")
         .withColumn("text", F.expr(_BOILER_HDR_SPARK)))
    return remove_boilerplate_segments(
        d, seg_tokens=_BOILER_SEG, min_df=_BOILER_MIN_DF)


# ---------------------------------------------------------------------------
# x44 — bigram coherence score (sequence-aware corpus-relative quality)
# ---------------------------------------------------------------------------


@query(
    "x44_bigram_coherence",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bgl AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                              i -> toks[i] || ' ' || toks[i + 1]) AS bgs
        FROM t
    ), b AS (
        SELECT doc_id, unnest(bgs) AS bg FROM bgl
    ), cf AS (
        SELECT bg, CAST(COUNT(*) AS BIGINT) AS bg_cf FROM b GROUP BY bg
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(bg_cf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_bigram_freq,
           CAST(SUM(CASE WHEN bg_cf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax_bigrams
    FROM b JOIN cf USING (bg)
    GROUP BY doc_id
    """,
)
def x44_bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-aware corpus-relative quality: the mean corpus frequency
    of a document's word BIGRAMS plus its hapax-bigram count — the
    cheap n-gram-LM proxy for fluency scoring (a shuffled-word or
    gibberish document has near-all hapax bigrams even when its unigrams
    are common, which x33's token rarity cannot see). Scale shape is
    x33's: the bigram-frequency aggregate and the join-back shuffle on
    the same key so the exchange is reused; the per-doc rollup is one
    more map-side-combined shuffle; exact integer sums with one double
    division at output.

    The exploded bigram table is lazily persisted (it feeds BOTH the
    frequency aggregate and the join-back — without the persist the
    split+zip_with pipeline ran twice), and the explode is
    explode_outer + null-drop: plain explode's inferred size()>0 filter
    re-inlines the whole bigram HOF into the parquet scan filter, so
    every document paid the pipeline a THIRD time before projecting it
    (the x25 decontamination dodge; measured 1.27 s -> 1.16 s min-of-4
    at sf0.1 — the frequency shuffle dominates, but the corpus is now
    scanned once)."""
    from ..operators.caching import tracked_persist
    d = (scale_out(load(spark, sf_dir, "documents"))
         .withColumn("_toks", F.split("text", " "))
         .withColumn("_bgs", F.filter(
             F.zip_with("_toks",
                        F.slice("_toks", 2, F.size("_toks")),
                        lambda x, y: F.concat(x, F.lit(" "), y)),
             lambda b: b.isNotNull())))
    b = tracked_persist(
        d.select("doc_id", F.explode_outer("_bgs").alias("bg"))
        .filter(F.col("bg").isNotNull()),
        eager=False)
    cf = b.groupBy("bg").agg(F.count(F.lit(1)).alias("bg_cf"))
    return (b.join(cf, "bg")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("bg_cf").alias("_sum_cf"),
                 F.sum((F.col("bg_cf") == 1).cast("long"))
                 .alias("n_hapax_bigrams"))
            .select("doc_id", "n_bigrams",
                    (F.col("_sum_cf").cast("double")
                     / F.col("n_bigrams").cast("double"))
                    .alias("mean_bigram_freq"),
                    "n_hapax_bigrams"))


# ---------------------------------------------------------------------------
# x48 — exact repeated-window dedup (ExactSubstr-style span removal)
# ---------------------------------------------------------------------------
# Like x43's chrome injection: the synthetic prose never repeats 4-gram
# spans across documents, so every document is prefixed with the same
# 9-token promo line — its interior windows duplicate corpus-wide, the
# globally-first document keeps them, every later document gets the span
# masked, and the prefix/prose boundary windows (unique per doc) survive.

_XW_K = 4
_XW_PROMO = "subscribe to our newsletter follow us on social media "
_XW_SPARK = f"concat('{_XW_PROMO}', text)"
_XW_SQL = f"'{_XW_PROMO}' || text"


@query(
    "x48_repeated_window_dedup",
    oracle=__import__(
        "data_pipeline_foundations_spark.operators.dedup",
        fromlist=["oracle_repeated_windows_sql"],
    ).oracle_repeated_windows_sql(win_tokens=_XW_K, raw_sql=_XW_SQL),
)
def x48_repeated_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring dedup (Lee et al. ACL'22, the ExactSubstr
    pass) over overlapping 4-token windows: any span whose fingerprint
    repeats anywhere in the corpus is removed everywhere except its
    globally-first occurrence, and documents are reassembled from their
    surviving tokens. One fingerprint-keyed shuffle (count + argmin),
    a join-back on the same key, and a (doc, start)-longs reassembly —
    the window explode and the final token mask are scan-local
    (operators/dedup.py dedup_repeated_windows)."""
    from ..operators.dedup import dedup_repeated_windows
    d = (load(spark, sf_dir, "documents")
         .withColumn("text", F.expr(_XW_SPARK)))
    return dedup_repeated_windows(d, win_tokens=_XW_K)


# ---------------------------------------------------------------------------
# x50 — per-source contribution cap (anti-spam domain throttling)
# ---------------------------------------------------------------------------

_CAP_PER_SOURCE = 20


@query(
    "x50_source_cap",
    oracle=f"""
    SELECT doc_id, source,
           CAST(rnk AS BIGINT) AS rnk,
           unique_ratio
    FROM (
        SELECT doc_id, source,
               {oracle_unique_token_ratio('text')} AS unique_ratio,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {oracle_unique_token_ratio('text')} DESC,
                            doc_id ASC) AS rnk
        FROM documents
    )
    WHERE rnk <= {_CAP_PER_SOURCE}
    """,
)
def x50_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap: keep at most N documents per source,
    ranked by lexical diversity — the anti-spam domain throttle every
    web-scale corpus applies so one prolific domain cannot dominate the
    mixture (C4 keeps three sentences per page hash; RefinedWeb and
    Dolma cap URL/domain contributions the same way). One shuffle on
    source; ranking is a window row_number with the deterministic
    (ratio DESC, doc_id ASC) tiebreak; the diversity score is a
    scan-local HOF. At 100 TB a hot domain is a skewed key — the cap
    itself bounds the retained rows, and the window's sort per source
    spills safely; a two-phase pre-rank (per-partition top-N before the
    shuffle) is the upgrade if a single domain exceeds executor memory."""
    from pyspark.sql import Window as W

    from ..functions.text import unique_token_ratio
    d = (scale_out(load(spark, sf_dir, "documents"))
         .withColumn("unique_ratio", unique_token_ratio("text")))
    w = W.partitionBy("source").orderBy(F.col("unique_ratio").desc(),
                                        F.col("doc_id").asc())
    return (d.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _CAP_PER_SOURCE)
            .select("doc_id", "source", "rnk", "unique_ratio"))


# ---------------------------------------------------------------------------
# x51 — bigram LM negative log-likelihood (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------
# The language-model quality filter of CCNet (Wenzek et al., "CCNet:
# Extracting high quality monolingual datasets from web crawl data",
# LREC 2020): score each document by the mean negative log-likelihood of
# its bigrams under a corpus-trained add-one-smoothed bigram model —
# high-NLL docs are gibberish/boilerplate, very-low-NLL docs are
# degenerate repetition; the mixture keeps the middle. KenLM's 5-gram
# Kneser-Ney becomes add-one bigram here so the model itself is two
# exact-count aggregates any engine reproduces.
#
# Determinism: -ln p = ln(c1 + V) - ln(c2 + 1) has INTEGER arguments,
# and each bigram's value is quantized to the 1e-6 grid as int64 BEFORE
# the per-doc sum (the similarity family's quantized-contract trick) —
# integer sums are order-independent, so shuffle order can never flip a
# float bit; the only cross-engine assumption is ln(integer) equality,
# the same one x24's BM25 idf already pins.

_NLL_SCALE = 1_000_000.0


@query(
    "x51_bigram_nll",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), tok AS (
        SELECT doc_id, unnest(toks) AS w FROM t
    ), uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM tok GROUP BY w
    ), v AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vsize FROM uni
    ), bgl AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                              i -> struct_pack(w1 := toks[i],
                                               w2 := toks[i + 1])) AS bgs
        FROM t
    ), b AS (
        SELECT doc_id, unnest(bgs, recursive := false) AS bg FROM bgl
    ), bx AS (
        SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b
    ), c2 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bx GROUP BY w1, w2
    ), scored AS (
        SELECT bx.doc_id,
               CAST(FLOOR((ln(CAST(u.c1 + v.vsize AS DOUBLE))
                           - ln(CAST(c2.c2 + 1 AS DOUBLE)))
                          * {_NLL_SCALE} + 0.5) AS BIGINT) AS qnll
        FROM bx
        JOIN c2 USING (w1, w2)
        JOIN uni u ON u.w = bx.w1
        CROSS JOIN v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(qnll) AS BIGINT) AS sum_qnll,
           CAST(SUM(qnll) AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * {_NLL_SCALE}) AS mean_nll
    FROM scored
    GROUP BY doc_id
    """,
)
def x51_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean add-one-smoothed bigram negative log-likelihood per document
    (the CCNet perplexity-filter analog; see module comment). Scale
    shape: the token and bigram tables are lazily persisted (each feeds
    a count aggregate AND a join-back); counts shuffle on their own keys
    with map-side combine; the vocabulary size is ONE broadcast row; the
    per-doc rollup sums exact int64 grid values, so no double ever
    crosses a shuffle."""
    from ..operators.caching import tracked_persist
    d = (scale_out(load(spark, sf_dir, "documents"))
         .withColumn("_toks", F.split("text", " ")))
    tok = tracked_persist(
        d.select("doc_id", F.explode_outer("_toks").alias("w"))
        .filter(F.col("w").isNotNull()),
        eager=False)
    uni = tracked_persist(
        tok.groupBy("w").agg(F.count(F.lit(1)).alias("c1")),
        eager=False)
    vrow = uni.agg(F.count(F.lit(1)).alias("vsize"))
    bx = tracked_persist(
        d.select("doc_id", F.explode_outer(F.filter(
            F.zip_with("_toks", F.slice("_toks", 2, F.size("_toks")),
                       lambda x, y: F.struct(x.alias("w1"), y.alias("w2"))),
            lambda s: s["w2"].isNotNull())).alias("bg"))
        .filter(F.col("bg").isNotNull())
        .select("doc_id", F.col("bg.w1").alias("w1"),
                F.col("bg.w2").alias("w2")),
        eager=False)
    c2 = bx.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    qnll = F.floor(
        (F.log((F.col("c1") + F.col("vsize")).cast("double"))
         - F.log((F.col("c2") + 1).cast("double")))
        * F.lit(_NLL_SCALE) + F.lit(0.5)).cast("long")
    return (bx.join(c2, ["w1", "w2"])
            .join(uni.withColumnRenamed("w", "w1"), "w1")
            .crossJoin(F.broadcast(vrow))
            .select("doc_id", qnll.alias("qnll"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("qnll").alias("sum_qnll"))
            .select("doc_id", "n_bigrams", "sum_qnll",
                    (F.col("sum_qnll").cast("double")
                     / (F.col("n_bigrams").cast("double")
                        * F.lit(_NLL_SCALE))).alias("mean_nll")))


# ---------------------------------------------------------------------------
# x52 — count-min heavy hitters (the mergeable counting sketch)
# ---------------------------------------------------------------------------

_CMS_TOPN = 20


def _oracle_cms_topk_sql() -> str:
    from ..operators.sketches import (
        CMS_D, oracle_cms_bucket_hashed, oracle_cms_ctes,
    )
    from ..functions.hashing import oracle_md5_long
    key_cells = "\n        UNION ALL\n        ".join(
        f"SELECT token, true_count, {r} AS row, "
        f"{oracle_cms_bucket_hashed('h', r)} AS bucket FROM top_h"
        for r in range(CMS_D))
    return f"""
    WITH t AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), tok AS (
        SELECT w FROM t WHERE w IS NOT NULL
    ), {oracle_cms_ctes('w', 'tok')}, true_c AS (
        SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM tok GROUP BY w
    ), top AS (
        SELECT token, true_count FROM true_c
        ORDER BY true_count DESC, token ASC LIMIT {_CMS_TOPN}
    ), top_h AS (
        SELECT token, true_count, ({oracle_md5_long('token')}) AS h
        FROM top
    ), cells AS (
        {key_cells}
    )
    SELECT token, true_count,
           CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est_count
    FROM cells LEFT JOIN cms_sketch s USING (row, bucket)
    GROUP BY token, true_count
    """


@query("x52_cms_heavy_hitters", oracle=_oracle_cms_topk_sql())
def x52_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a Count-Min sketch (Cormode &
    Muthukrishnan 2005): the corpus token stream collapses to a D×W
    integer sketch in one map-side-combined shuffle, the exact top-N
    (the oracle-coverage twin, a TakeOrderedAndProject) rides the SAME
    persisted token table, and each candidate's estimate is the min of
    its D broadcast-joined cells — est_count >= true_count always, the
    one-sided CMS error bound pinned by tests. The sketch is the
    production path at 100 TB: per-shard sketches merge cell-wise
    (operators/sketches.cms_merge) without ever re-shuffling tokens."""
    from ..operators.caching import tracked_persist
    from ..operators.sketches import cms_estimate, cms_sketch
    d = scale_out(load(spark, sf_dir, "documents"))
    toks = tracked_persist(
        d.select(F.explode_outer(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isNotNull()),
        eager=False)
    true_top = (toks.groupBy("token")
                .agg(F.count(F.lit(1)).alias("true_count"))
                .orderBy(F.col("true_count").desc(), F.col("token").asc())
                .limit(_CMS_TOPN))
    sketch = cms_sketch(toks, "token")
    est = cms_estimate(sketch, true_top.select("token"), "token")
    return true_top.join(est, "token").select(
        "token", "true_count", F.col("est_count"))


# ---------------------------------------------------------------------------
# x53 — bloom-prefiltered decontamination (membership sketch in action)
# ---------------------------------------------------------------------------

_BLOOM_BENCH_MOD = 17  # x25's pseudo-benchmark: every 17th doc


def _oracle_bloom_decon_sql() -> str:
    from ..operators.dedup import DECON_N
    from ..operators.sketches import BLOOM_K, oracle_bloom_positions
    from ..operators.dedup import oracle_shingle_hashes
    th, sh_expr = oracle_shingle_hashes("text", DECON_N)
    bit_selects = "\n        UNION\n        ".join(
        f"SELECT {oracle_bloom_positions('s', k)} AS pos FROM bench"
        for k in range(BLOOM_K))
    probe_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, n_shingles, s, "
        f"{oracle_bloom_positions('s', k)} AS pos FROM corpus"
        for k in range(BLOOM_K))
    return f"""
    WITH pre AS (
        SELECT doc_id, {th} AS th FROM documents
    ), base AS (
        SELECT doc_id, list_distinct({sh_expr}) AS sh FROM pre
    ), bench AS (
        SELECT DISTINCT unnest(sh) AS s FROM base
        WHERE doc_id % {_BLOOM_BENCH_MOD} = 0
    ), corpus AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
               unnest(sh) AS s
        FROM base WHERE doc_id % {_BLOOM_BENCH_MOD} <> 0
    ), bloom_bits AS (
        {bit_selects}
    ), probes AS (
        {probe_selects}
    ), bloomed AS (
        SELECT doc_id, n_shingles, s
        FROM probes JOIN bloom_bits USING (pos)
        GROUP BY doc_id, n_shingles, s
        HAVING COUNT(*) = {BLOOM_K}
    ), exact AS (
        SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact_hits
        FROM corpus c JOIN bench USING (s) GROUP BY c.doc_id
    )
    SELECT b.doc_id, b.n_shingles,
           CAST(COUNT(*) AS BIGINT) AS n_bloom_hits,
           CAST(COALESCE(ANY_VALUE(e.n_exact_hits), 0) AS BIGINT)
               AS n_exact_hits
    FROM bloomed b LEFT JOIN exact e ON e.doc_id = b.doc_id
    GROUP BY b.doc_id, b.n_shingles
    """


@query("x53_bloom_decontamination", oracle=_oracle_bloom_decon_sql())
def x53_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination behind a Bloom pre-filter: the benchmark's
    distinct 5-gram hashes build a 2^14-bit / 4-hash membership sketch
    (operators/sketches.bloom_build — KBs, broadcast), every corpus
    shingle tests against it map-side, and only bloom-POSITIVE shingles
    reach the exact benchmark join. Output per flagged doc:
    (n_shingles, n_bloom_hits, n_exact_hits) — bloom hits >= exact hits
    ALWAYS (no false negatives; the gap is the measured false-positive
    cost), pinned by tests. At 100 TB this is the standard two-tier
    shape: the bitset costs KBs where x25's exact broadcast set costs
    the benchmark's full distinct-shingle table, and the exact join's
    input shrinks to the bloom survivors."""
    from ..operators.caching import tracked_persist
    from ..operators.dedup import DECON_N
    from ..operators.sketches import bloom_build, bloom_hits
    from ..operators.dedup import with_shingle_hashes
    # not persisted (x25's discipline): the bench slice re-scans 1/17th
    # of the corpus under a pushed row filter, cheaper than caching the
    # full shingle-array table just to read it 1.06 times
    marked = (
        with_shingle_hashes(scale_out(load(spark, sf_dir, "documents")),
                            "text", DECON_N, out="_sh")
        .select("doc_id",
                (F.col("doc_id") % _BLOOM_BENCH_MOD == 0).alias("_is_bench"),
                F.array_distinct("_sh").alias("sh")))
    # bench is KB-scale (1/17th slice's distinct shingles) but feeds
    # TWO consumers (the bitset build and the exact-membership join) —
    # lazy persist so the slice scan + distinct exchange run once
    bench = tracked_persist(
        marked.filter(F.col("_is_bench"))
        .select(F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull()).distinct(),
        eager=False)
    # The probes are the explode + K broadcast semi-join composition,
    # NOT the scan-local HOF filter: the fused bloom_filter_array form
    # was built and measured 2.5x SLOWER at sf0.1 (interpreted
    # per-element lambda eval vs the codegen'd explode + map-side join
    # probe; the joins never shuffle, so "re-touching the exploded
    # stream" is pipelined, not a pass) — adjudication in SCALING.md r11.
    corpus = (marked.filter(~F.col("_is_bench"))
              .select("doc_id",
                      F.size("sh").cast("long").alias("n_shingles"),
                      F.explode_outer("sh").alias("s"))
              .filter(F.col("s").isNotNull()))
    bloom = bloom_build(bench, "s")
    survivors = bloom_hits(corpus, "s", bloom)
    # ONE broadcast left join marks exact membership on the survivor
    # stream, and ONE aggregate produces both counts — the two-agg +
    # doc_id-join formulation paid a second survivor pass plus a third
    # exchange to stitch the counts back together
    return (survivors
            .join(F.broadcast(bench.withColumn("_exact", F.lit(1))),
                  "s", "left")
            .groupBy("doc_id", "n_shingles")
            .agg(F.count(F.lit(1)).alias("n_bloom_hits"),
                 F.coalesce(F.sum("_exact"), F.lit(0)).cast("long")
                 .alias("n_exact_hits")))


_QS_QUANTILES = [("p50_lo", 1, 2), ("p90_lo", 9, 10), ("p99_lo", 99, 100)]


from ..operators.sketches import oracle_qsketch_sql as _oqs


@query("x78_quantile_sketch",
       oracle=_oqs("n_chars", "lang", "documents",
                   _QS_QUANTILES) + " ORDER BY stratum")
def x78_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quantiles (p50/p90/p99) from the
    mergeable log2-octave quantile sketch (operators/sketches.py) —
    the fourth sketch beside HLL/CMS/Bloom: fixed <=504-cell footprint
    per stratum regardless of corpus size or value cardinality (the
    exact histograms of x26/x57 are bounded by distinct values, which
    telemetry longs can blow). Answers are cell LOWER BOUNDS — true
    value within +25% (exact below 8) — computed with exact-integer
    thresholds (den*cum >= num*total) so both engines agree bit-for-bit.
    Scale shape: one map-side-combined aggregate shuffling <=|strata|*504
    rows, then dimension-sized windows. Built SHARDED here (even/odd
    n_chars value-parity halves — a disjoint row split — merged
    cell-wise) to exercise the mergeable contract on the registered
    path; shard≡whole pinned in tests."""
    from ..operators.sketches import (
        qsketch_build, qsketch_merge, qsketch_quantiles,
    )
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    even = qsketch_build(docs.filter(F.col("n_chars") % 2 == 0),
                         "n_chars")
    odd = qsketch_build(docs.filter(F.col("n_chars") % 2 == 1),
                        "n_chars")
    return (qsketch_quantiles(qsketch_merge(even, odd), _QS_QUANTILES)
            .orderBy("stratum"))


# ---------------------------------------------------------------------------
# x89 — per-document tf-idf keyword extraction
# ---------------------------------------------------------------------------

_TFIDF_K = 3
_TFIDF_SCALE = 1e6


def _oracle_tfidf_sql(k: int = _TFIDF_K) -> str:
    idf = ("((CAST(n.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)"
           " + CAST(0.5 AS DOUBLE)) / (CAST(d.df AS DOUBLE)"
           " + CAST(0.5 AS DOUBLE)))")
    return f"""
    WITH toks AS (
        SELECT doc_id, t AS token
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t IS NOT NULL AND t <> ''
    ), posts AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, token
    ), dfs AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        FROM posts GROUP BY token
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), sc AS (
        SELECT p.doc_id, p.token,
               CAST(FLOOR(CAST(p.tf AS DOUBLE) * {idf}
                          * CAST({_TFIDF_SCALE} AS DOUBLE)
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS su
        FROM posts p JOIN dfs d USING (token), n
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY su DESC, token ASC)
                AS INTEGER) AS rank,
           token,
           CAST(su AS DOUBLE) / {_TFIDF_SCALE} AS score
    FROM sc
    QUALIFY rank <= {k}
    """


@query("x89_tfidf_keywords", oracle=_oracle_tfidf_sql())
def x89_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k distinctive terms by tf-idf — the keyword/topic
    tagging pass a curation pipeline runs for per-topic mixture audits
    and faceted corpus search (x24 ranks documents for a GIVEN query;
    this inverts it: the corpus-relative signature OF each document;
    x33's mean-rarity scalar can't name the terms). The idf is the same
    log-free rational form as BM25's — (N - df + ½)/(df + ½), monotone
    in rarity, no ln() (libm last-ulp portability, operators/
    retrieval.py) — and the score is integer-scaled BEFORE ranking so
    the per-doc top-k and its tie-break (score desc, token asc) are
    exact on both engines.

    Scale shape: the (doc, token) tf table is LAZILY PERSISTED — it
    feeds the document-frequency aggregate AND the score join (x33's
    discipline: AQE plans them as independent subtrees, so without the
    persist the tokenize+explode scan runs twice); df rides back over
    one token-keyed exchange, the corpus-size scalar broadcasts, and
    the top-k is a per-doc window over each document's DISTINCT tokens
    (bounded by doc length — never a corpus sort)."""
    from pyspark.sql import Window as W

    from ..operators.caching import tracked_persist

    d = scale_out(load(spark, sf_dir, "documents"))
    posts = tracked_persist(
        d.select("doc_id", F.explode_outer(F.split("text", " "))
                 .alias("token"))
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
        eager=False)
    dfs = posts.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_row = d.agg(F.count(F.lit(1)).alias("n_docs"))
    half = F.lit(0.5)
    idf = ((F.col("n_docs").cast("double") - F.col("df").cast("double")
            + half)
           / (F.col("df").cast("double") + half))
    su = F.floor(F.col("tf").cast("double") * idf
                 * F.lit(_TFIDF_SCALE) + half).alias("su")
    sc = (posts.join(dfs, "token").crossJoin(F.broadcast(n_row))
          .select("doc_id", "token", su))
    w = W.partitionBy("doc_id").orderBy(F.col("su").desc(),
                                        F.col("token").asc())
    return (sc.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= _TFIDF_K)
            .select("doc_id", "rank", "token",
                    (F.col("su").cast("double") / F.lit(_TFIDF_SCALE))
                    .alias("score")))


# ---------------------------------------------------------------------------
# x90 — KMV-sketch cross-source similarity (x45's scale path)
# ---------------------------------------------------------------------------


def _oracle_kmv_source_sim_sql() -> str:
    from ..operators.dedup import oracle_shingle_hashes
    from ..operators.sketches import KMV_K, oracle_kmv_ctes

    th, sh = oracle_shingle_hashes("text", 3)
    kmv = oracle_kmv_ctes("s", "source", "kmv_shx", KMV_K)
    return f"""
    WITH kmv_pre AS (
        SELECT source, {th} AS th FROM documents
    ), kmv_shc AS (
        SELECT source, {sh} AS sh FROM kmv_pre
    ), kmv_shx AS (
        SELECT source, unnest(sh) AS s FROM kmv_shc
    ),{kmv},
    srcs AS (
        SELECT DISTINCT source FROM documents
    ), pairs AS (
        SELECT a.source AS stratum_a, b.source AS stratum_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ), e AS (
        SELECT p.stratum_a, p.stratum_b, k.s
        FROM pairs p JOIN kmv_sk k ON k.stratum = p.stratum_a
        UNION ALL
        SELECT p.stratum_a, p.stratum_b, k.s
        FROM pairs p JOIN kmv_sk k ON k.stratum = p.stratum_b
    ), g AS (
        SELECT stratum_a, stratum_b, s, COUNT(*) AS cnt
        FROM e GROUP BY stratum_a, stratum_b, s
    ), r AS (
        SELECT stratum_a, stratum_b,
               CASE WHEN cnt = 2 THEN 1 ELSE 0 END AS in_both,
               row_number() OVER (PARTITION BY stratum_a, stratum_b
                                  ORDER BY s) AS rk
        FROM g
    )
    SELECT stratum_a, stratum_b,
           CAST(COUNT(*) AS BIGINT) AS k_eff,
           CAST(SUM(in_both) AS BIGINT) AS n_both,
           CAST(SUM(in_both) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS jaccard_est
    FROM r WHERE rk <= {KMV_K}
    GROUP BY stratum_a, stratum_b
    """


@query("x90_kmv_source_similarity", oracle=_oracle_kmv_source_sim_sql())
def x90_kmv_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source Jaccard similarity ESTIMATED from k-minimum-value
    sketches — the constant-size scale path of x45's exact overlap
    matrix. x45 must ship every distinct (shingle, source) pair and its
    cost grows with the overlap itself; here each source collapses to
    its 256 smallest distinct shingle hashes in one bounded-state pass
    (operators/sketches.py kmv_sketch — the pigeonhole argument there
    makes per-doc and per-partition capping exact), and ALL pairwise
    estimates are computed over |sources|·256 longs. Standard error
    ~1/sqrt(256) ≈ 6% (Beyer et al. SIGMOD'07); the sketch itself is
    deterministic (k smallest md5 values — no RNG), so the DuckDB twin
    reproduces the ESTIMATE bit-for-bit while pytest pins it against
    the exact Jaccard within the error bound.

    Built SHARDED on the registered path (x78's discipline): even/odd
    doc_id halves sketched independently via the SAME factored pipeline
    the streaming twin runs per micro-batch (streaming/kmv_maintain.py
    batch_source_sketch), kmv_merge'd — exercising the mergeable
    contract (shard/day/engine sketches combine associatively) exactly
    as a 100 TB incremental ingest maintains it.

    r13 adjudication — the single-build variant was tried and REVERTED
    on decade evidence: one whole-corpus build reads ~1 s faster at
    sf0.1 (1.78 vs 2.80, fewer stages), but at 5M docs TWO interleaved
    A/B probes read sharded 101-110 s vs single-build 123-125 s
    steady-state. Mechanism: each shard's phase-1 collect_list groups
    hold HALF the per-task state, and the two independent shard
    pipelines overlap their stages through each other's stragglers —
    the same reasons the _KMV_SPLIT residue fan-out exists
    (operators/sketches.py). The bench-scale saving does not survive
    the scale the operator is for, so the sharded plan stays
    registered (plans/r13/x90_kmv_source_similarity_*.txt).
    (kmv_jaccard's four sketch references are collapsed by AQE stage
    reuse; its eager-persist variant was also measured and rejected —
    see operators/sketches.py.)"""
    from ..operators.sketches import kmv_jaccard, kmv_merge
    from ..streaming.kmv_maintain import batch_source_sketch

    docs = scale_out(load(spark, sf_dir, "documents"))
    even = batch_source_sketch(docs.filter(F.col("doc_id") % 2 == 0))
    odd = batch_source_sketch(docs.filter(F.col("doc_id") % 2 == 1))
    return kmv_jaccard(kmv_merge(even, odd))
