"""Unit checks for the repetition-filter and PII expressions on known
tiny inputs (the parity suite covers corpus-scale equivalence; these pin
the semantics a human can eyeball)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_pipeline_foundations_spark.functions.text import (
    dup_ngram_frac, pii_counts, pii_redact, top_token_frac,
    unique_token_ratio,
)


def _one(spark, text: str, col):
    return (spark.createDataFrame([(text,)], "text string")
            .select(col.alias("v")).first().v)


@pytest.mark.parametrize("text,expected", [
    ("a b c d", 1.0),
    ("a a a a", 0.25),
    ("a b a b", 0.5),
])
def test_unique_token_ratio(spark, text, expected):
    assert _one(spark, text, unique_token_ratio("text")) == expected


@pytest.mark.parametrize("text,expected", [
    ("a b c d", 0.25),       # every token once -> 1/4
    ("a a a b", 0.75),       # 'a' x3 of 4
    ("b a b a b", 0.6),      # 'b' x3 of 5
])
def test_top_token_frac(spark, text, expected):
    assert _one(spark, text, top_token_frac("text")) == expected


@pytest.mark.parametrize("text,expected", [
    ("a b c d", 0.0),        # 3 bigrams, all distinct
    ("a b a b", 1.0 - 2.0 / 3.0),  # ab,ba,ab -> 2 distinct of 3
    ("a", 0.0),              # no bigram -> defined as 0
])
def test_dup_bigram_frac(spark, text, expected):
    assert _one(spark, text, dup_ngram_frac("text", 2)) == expected


def _pii(spark, raw: str):
    counts = pii_counts("text")
    row = (spark.createDataFrame([(raw,)], "text string")
           .select(*[c.alias(n) for n, c in counts.items()],
                   pii_redact("text").alias("r")).first())
    return row.asDict()


def test_pii_counts_and_redact(spark):
    got = _pii(spark, "mail a.b@x.co and c@y.io call +1-555-0100 not 555-0100")
    assert (got["email"], got["phone"]) == (2, 1)
    assert got["r"] == "mail <EMAIL> and <EMAIL> call <PHONE> not 555-0100"


def test_pii_ipv4(spark):
    got = _pii(spark, "from 10.0.7.255 and 256.1.1.1 and v1.2.3")
    # 256.1.1.1: the first octet fails the 0-255 range, and \b blocks a
    # partial match starting mid-number; v1.2.3 has no 4th octet
    assert got["ipv4"] == 1
    assert got["r"] == "from <IPV4> and 256.1.1.1 and v1.2.3"


def test_pii_credit_card(spark):
    got = _pii(spark, "card 4111-1111-1111-1234 or 4111 1111 1111 1234 "
                      "but not 4111111111111234")
    assert got["credit_card"] == 2          # bare 16-digit run: too risky
    assert got["r"] == "card <CC> or <CC> but not 4111111111111234"


def test_pii_national_id(spark):
    got = _pii(spark, "ssn 123-45-6789 midnumber 9123-45-6789x")
    # the second has a digit before 123 -> no word boundary -> no match
    assert got["national_id"] == 1
    assert got["r"] == "ssn <NID> midnumber 9123-45-6789x"


def test_pii_classes_do_not_cross_match(spark):
    """A credit card must not be half-eaten by the SSN pattern, a phone
    by the card pattern, etc. — digit counts + \\b make the classes
    mutually exclusive."""
    got = _pii(spark, "4111-1111-1111-1234 +1-555-0100 123-45-6789 10.0.0.1")
    assert (got["credit_card"], got["phone"],
            got["national_id"], got["ipv4"]) == (1, 1, 1, 1)
    assert got["r"] == "<CC> <PHONE> <NID> <IPV4>"


def test_pii_noop_on_clean_text(spark):
    got = _pii(spark, "no pii here")
    assert got["r"] == "no pii here"
    assert all(got[n] == 0 for n in got if n != "r")


def test_hll_estimate_accuracy(spark):
    """The raw HLL estimator (m=256, no small-range correction — see the
    module docstring's documented deviation) is only contractual when
    n >> m; feed it 20k distinct docs (n/m ~ 78) and require ~3 sigma
    (1.04/sqrt(256) ~ 6.5%). The sparse regime is covered by
    test_hll_sparse_regime_flags below; cross-engine parity by
    test_oracle_parity[x27]."""
    from data_pipeline_foundations_spark.operators.sketches import (
        hll_distinct_by,
    )
    n = 20_000
    d = spark.range(n).selectExpr("'en' AS lang",
                                  "concat('doc ', id) AS text")
    row = hll_distinct_by(d).first()
    assert abs(row.est_distinct - n) / n < 0.20, row


def test_hll_sparse_regime_flags(spark):
    """When n << m the raw estimate is biased high — the sketch must
    say so via zero_registers (the caller's signal to fall back to
    linear counting), and occupied registers ~ n because collisions are
    rare."""
    from data_pipeline_foundations_spark.operators.sketches import (
        HLL_M, hll_distinct_by,
    )
    n = 40
    d = spark.range(n).selectExpr("'en' AS lang",
                                  "concat('doc ', id) AS text")
    row = hll_distinct_by(d).first()
    occupied = HLL_M - row.zero_registers
    assert row.zero_registers > HLL_M // 2
    assert abs(occupied - n) <= 5


def test_hll_merge_equals_whole(spark):
    """The mergeable-summary contract: sketch two disjoint shards,
    max-merge the registers, estimate — the registers AND the estimate
    must be bit-identical to sketching the union in one pass. This is
    what lets day-partitions be sketched independently at 100 TB."""
    from data_pipeline_foundations_spark.operators.sketches import (
        hll_distinct_by, hll_estimate, hll_merge, hll_registers,
    )
    d = spark.range(5_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'es' END AS lang",
        "concat('doc ', id) AS text")
    a = d.filter("id < 2000")       # overlapping strata, disjoint docs
    b = d.filter("id >= 2000")
    merged = hll_merge(hll_registers(a), hll_registers(b))
    whole = hll_registers(d)
    key = lambda r: (r.strata, r.bucket)
    assert sorted(merged.collect(), key=key) == \
        sorted(whole.collect(), key=key)
    est_m = {r.strata: (r.est_distinct, r.zero_registers)
             for r in hll_estimate(merged).collect()}
    est_w = {r.strata: (r.est_distinct, r.zero_registers)
             for r in hll_distinct_by(d).collect()}
    assert est_m == est_w  # bit-identical doubles, same zero counts


def test_boilerplate_removal_is_idempotent(spark, sf_dir):
    """Cleaning a cleaned corpus finds nothing: rebuild the profile on
    x43's output and every document must come back chrome-free and
    unchanged — the fixpoint property that guards against the remover
    eating real prose."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        remove_boilerplate_segments,
    )
    from data_pipeline_foundations_spark.tables import load

    hdr = ("concat('nav menu home about contact rss login ', source,"
           " ' ', text)")
    docs = (load(spark, sf_dir, "documents")
            .withColumn("text", F.expr(hdr)))
    once = remove_boilerplate_segments(docs)
    again = remove_boilerplate_segments(
        once.select("doc_id", "source",
                    F.col("clean_text").alias("text")))
    rows = again.collect()
    assert rows
    assert all(r.n_boilerplate == 0 for r in rows)
    first = {r.doc_id: r.clean_text for r in once.collect()}
    assert all(first[r.doc_id] == r.clean_text for r in rows)


def test_repeated_window_dedup_semantics(spark):
    """x48 contract on a hand-built corpus: the globally-first occurrence
    of a duplicated window survives, every later occurrence's span is
    masked token-wise, sub-window documents pass through untouched, and
    the hash family does not change the output (only fingerprint
    EQUALITY matters — the argmin tiebreak is (doc, start) arithmetic,
    never hash order)."""
    from data_pipeline_foundations_spark.operators.dedup import (
        dedup_repeated_windows,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"),        # first occurrence of "a b c d" -> kept
         (2, "x y a b c d w"),    # later occurrence -> positions 3-6 masked
         (3, "p q r s t"),        # unique prose -> untouched
         (4, "u v")],             # shorter than the window -> no windows
        "doc_id long, text string")
    rows = {r.doc_id: r for r in dedup_repeated_windows(
        docs, win_tokens=4).collect()}
    assert rows[1].clean_text == "a b c d e"
    assert rows[1].n_dup_windows == 0
    assert rows[2].clean_text == "x y w"
    assert rows[2].n_dup_windows == 1
    assert rows[2].n_removed_tokens == 4
    assert rows[3].clean_text == "p q r s t"
    assert rows[4].clean_text == "u v"
    assert rows[4].n_tokens == 2 and rows[4].n_removed_tokens == 0


def test_repeated_window_dedup_requires_integral_id(spark):
    """The packed argmin key re-derives the id as BIGINT, so string ids
    that are long-equal ('7' vs '07') would silently merge removal
    lists — the operator must refuse non-integral id columns up front
    with an actionable message (ADVICE r10)."""
    import pytest

    from data_pipeline_foundations_spark.operators.dedup import (
        dedup_repeated_windows,
    )

    docs = spark.createDataFrame(
        [("7", "a b c d e"), ("07", "x y a b c d w")],
        "doc_id string, text string")
    with pytest.raises(TypeError, match="integral type"):
        dedup_repeated_windows(docs, win_tokens=4)


def test_repeated_window_dedup_is_idempotent(spark, sf_dir):
    """Deduping a deduped corpus removes nothing: every surviving window
    fingerprint is unique after the first pass ONLY for spans that were
    actually deduplicated — re-running may still see windows that became
    adjacent after masking, so the pin is the weaker (and true)
    invariant: pass 2 never removes a span that pass 1 already kept as
    a first occurrence, i.e. total removed tokens strictly shrink to a
    fixpoint within two more passes on this corpus."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        dedup_repeated_windows,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    once = dedup_repeated_windows(docs, win_tokens=4)
    r1 = once.agg(F.sum("n_removed_tokens")).collect()[0][0]
    again = dedup_repeated_windows(
        once.select("doc_id", F.col("clean_text").alias("text")),
        win_tokens=4)
    r2 = again.agg(F.sum("n_removed_tokens")).collect()[0][0]
    assert r1 > 0          # the corpus genuinely contains repeated spans
    assert r2 < r1         # masking converges, it does not oscillate


def test_leakage_safe_split_never_straddles_pairs(spark, sf_dir):
    """x49's whole point, pinned directly: for EVERY near-dup candidate
    pair the two documents land in the same split — a per-document
    random split violates this for any pair that hashes differently."""
    from data_pipeline_foundations_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    split = {r.doc_id: r.split for r in all_queries()
             ["x49_leakage_safe_split"].fn(spark, sf_dir).collect()}
    pairs = minhash_lsh_pairs(load(spark, sf_dir, "documents")).collect()
    assert pairs  # the corpus genuinely contains near-dups
    assert all(split[p.doc_a] == split[p.doc_b] for p in pairs)
    # and the split is genuinely two-sided at this scale
    assert {"train", "holdout"} == set(split.values())


def test_cms_upper_bound_and_merge(spark, sf_dir):
    """CMS contracts: (1) est >= true for EVERY token, not just heavy
    hitters — the one-sided error guarantee; (2) cell-wise merge of
    per-source shard sketches equals the whole-corpus sketch exactly
    (int64 sums are associative), the same mergeable-summary pin the
    HLL family carries."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.sketches import (
        cms_estimate, cms_merge, cms_sketch,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    toks = (docs.select("source",
                        F.explode(F.split("text", " ")).alias("token")))
    whole = cms_sketch(toks, "token")
    truth = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tc"))
    est = cms_estimate(whole, truth.select("token"), "token")
    joined = truth.join(est, "token").collect()
    assert joined
    assert all(r.est_count >= r.tc for r in joined)
    assert any(r.est_count == r.tc for r in joined)  # min-row often exact

    sources = [r.source for r in toks.select("source").distinct().collect()]
    shards = [cms_sketch(toks.filter(F.col("source") == s), "token")
              for s in sources[:3]]
    rest = cms_sketch(toks.filter(~F.col("source").isin(sources[:3])),
                      "token")
    merged = cms_merge(*shards, rest)
    key = lambda r: (r.row, r.bucket)
    assert sorted(merged.collect(), key=key) == \
        sorted(whole.collect(), key=key)


def test_bloom_prefilter_is_one_sided(spark, sf_dir):
    """x53's contract: the bloom survivors CONTAIN every exact
    contamination hit (no false negatives — each x25 exact hit appears
    among bloom positives with n_bloom_hits >= n_exact_hits), and the
    filter genuinely fires (some positives exist)."""
    from data_pipeline_foundations_spark.registry import all_queries

    bloom = {r.doc_id: r for r in all_queries()
             ["x53_bloom_decontamination"].fn(spark, sf_dir).collect()}
    exact = {r.doc_id: r.n_shared for r in all_queries()
             ["x25_decontamination"].fn(spark, sf_dir).collect()}
    assert bloom
    assert set(exact) <= set(bloom)          # no false negatives, doc level
    assert all(bloom[d].n_exact_hits == n for d, n in exact.items())
    assert all(r.n_bloom_hits >= r.n_exact_hits for r in bloom.values())


def test_two_tier_decon_equals_exact_path(spark, sf_dir):
    """r12 (VERDICT r11 #5): the registered bloom→exact-verify
    composition (x92) makes the SAME decisions as x25's exact
    broadcast path — identical rows, identical counts, identical
    fractions. This is the end-to-end pin behind the 100 TB routing
    claim: the pre-filter may only ever shrink the exact join's INPUT,
    never its output."""
    from data_pipeline_foundations_spark.registry import all_queries

    key = ["doc_id"]
    two = (all_queries()["x92_decon_two_tier"].fn(spark, sf_dir)
           .toPandas().sort_values(key).reset_index(drop=True))
    exact = (all_queries()["x25_decontamination"].fn(spark, sf_dir)
             .toPandas().sort_values(key).reset_index(drop=True))
    assert len(two) > 0 and two.equals(exact)


def test_two_tier_bitset_autosize_and_any_size_identity(spark, sf_dir):
    """r13 (ADVICE): the two-tier bitset is sized from the benchmark's
    distinct-shingle count — bloom_bits_for picks next_pow2(8n) clamped
    to [2^14, 2^24] — and the composition's output is IDENTICAL at any
    bitset size (the no-false-negatives + exact-verify identity), so a
    deliberately saturated 2^14 filter and a roomy 2^20 one must both
    reproduce the auto-sized result row-for-row. A size the packed words
    cannot hold exactly (not a positive multiple of 64) is refused."""
    from data_pipeline_foundations_spark.operators.dedup import (
        decontaminate_two_tier,
    )
    from data_pipeline_foundations_spark.operators.sketches import (
        BLOOM_B, bloom_bits_for,
    )
    from data_pipeline_foundations_spark.tables import load
    from pyspark.sql import functions as F

    assert bloom_bits_for(1) == BLOOM_B                 # floor
    assert bloom_bits_for(10_000) == 1 << 17            # 8n = 80k -> 2^17
    assert bloom_bits_for(1 << 30) == 1 << 24           # cap
    assert bloom_bits_for(4_000) >= 8 * 4_000           # capacity bound

    docs = load(spark, sf_dir, "documents")
    pred = F.col("doc_id") % 17 == 0
    key = ["doc_id"]
    auto = (decontaminate_two_tier(docs, pred)
            .toPandas().sort_values(key).reset_index(drop=True))
    small = (decontaminate_two_tier(docs, pred, bloom_bits=1 << 14)
             .toPandas().sort_values(key).reset_index(drop=True))
    roomy = (decontaminate_two_tier(docs, pred, bloom_bits=1 << 20)
             .toPandas().sort_values(key).reset_index(drop=True))
    assert len(auto) > 0
    assert auto.equals(small) and auto.equals(roomy)
    for bad in (100, 0):
        with pytest.raises(ValueError, match="multiple of 64"):
            decontaminate_two_tier(docs, pred, bloom_bits=bad)


def test_bloom_families_and_fused_probe_agree(spark):
    """The two Bloom probe shapes decide IDENTICALLY per key:
    bloom_hits (explode + K broadcast semi-joins — the registered x53
    shape) == bloom_filter_array (scan-local HOF over the packed bitset
    words — the array-shaped primitive). Also pins one-sidedness: every
    true member survives (no false negatives)."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.sketches import (
        bloom_bitset_words, bloom_build, bloom_filter_array, bloom_hits,
    )

    keys = spark.range(0, 400).select((F.col("id") * 7919 % 104729)
                                      .alias("s"))
    members = keys.filter("s % 3 = 0")
    bloom = bloom_build(members, "s")
    via_joins = sorted(r.s for r in bloom_hits(keys, "s", bloom).collect())
    words = bloom_bitset_words(bloom)
    via_hof = sorted(
        r.s for r in keys.select(
            F.explode(bloom_filter_array(F.array("s"), words)).alias("s"))
        .collect())
    assert via_joins == via_hof
    assert set(r.s for r in members.collect()) <= set(via_joins)


def test_bloom_pack_keys_bit_identical_to_spark_build(spark):
    """r13: the driver-side numpy packer (one collect, no distinct-
    positions job) produces the EXACT words the Spark position table
    packs to, for default and sized bitsets — the pin behind
    decontaminate_two_tier's one-job model collect."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.sketches import (
        BLOOM_B, BLOOM_K, bloom_bitset_words, bloom_build, bloom_pack_keys,
        bloom_positions,
    )

    keys = [(i * 7919 % 104729) for i in range(500)] + [0, 1, (1 << 60) - 1]
    kdf = spark.createDataFrame([(k,) for k in keys], "s long")
    assert (bloom_pack_keys(keys, BLOOM_B)
            == bloom_bitset_words(bloom_build(kdf, "s")))
    bits = 1 << 17
    table = kdf.select(F.explode(F.array(*[
        bloom_positions(F.col("s"), k, bits) for k in range(BLOOM_K)]))
        .alias("pos")).distinct()
    assert bloom_pack_keys(keys, bits) == bloom_bitset_words(table,
                                                             bits=bits)


def test_words_literal_equals_lit_list(spark):
    """The one-parse array literal carries the packed words exactly,
    including negative (two's-complement packed) words."""
    from data_pipeline_foundations_spark.operators.sketches import (
        _words_literal,
    )

    words = [0, 1, -1, 2**62, -(2**62), 123456789123456789]
    got = (spark.range(1).select(_words_literal(words).alias("w"))
           .collect()[0]["w"])
    assert got == words


def test_bloom_probe_matches_after_literal_change(spark):
    """bloom_filter_col over bloom_pack_keys' words flags every packed
    key (no false negatives by construction)."""
    from data_pipeline_foundations_spark.operators.sketches import (
        bloom_filter_col, bloom_pack_keys,
    )

    keys = [7, 99, 12345, 2**59 + 11]
    words = bloom_pack_keys(keys, 1 << 14)
    probe = (spark.createDataFrame([(k,) for k in keys + [5, 6, 8888]],
                                   "s long")
             .select("s", bloom_filter_col(F.col("s"), words).alias("hit")))
    got = {r["s"]: bool(r["hit"]) for r in probe.collect()}
    for k in keys:
        assert got[k], f"packed key {k} must probe true (no false negatives)"


def test_repeated_window_dedup_differential(spark):
    """Differential pin for x48's operator: a pure-Python replica of the
    contract (fingerprint every k-window, keep the global (doc, start)
    argmin per duplicated fingerprint, mask every other occurrence's
    span, reassemble) must agree with the Spark plan on randomized
    corpora drawn from a tiny alphabet (which forces heavy window
    collisions, including whole-doc duplicates and self-repeats)."""
    import random

    from data_pipeline_foundations_spark.operators.dedup import (
        dedup_repeated_windows,
    )

    rng = random.Random(7)
    k = 3
    for trial in range(4):
        if trial == 3:
            # dominant-span skew (VERDICT r10 #3): a third of the corpus
            # is PURE repetition of one token, so one fingerprint owns
            # every window of every hot doc — the fp-window partition
            # holding ~90% of all window rows must still produce the
            # exact global-argmin semantics (straggler wall-clock is the
            # SCALING probe's job; correctness under the skew is this
            # pin's)
            docs = [(i, " ".join(["hot"] * 10) if i % 3 == 0
                     else " ".join(rng.choice("abcd")
                                   for _ in range(rng.randint(1, 12))))
                    for i in range(12)]
        else:
            docs = [(i, " ".join(rng.choice("abcd")
                                 for _ in range(rng.randint(1, 12))))
                    for i in range(12)]

        # pure-Python replica of the contract
        wins = {}
        for d, text in docs:
            toks = text.split(" ")
            for s in range(1, len(toks) - k + 2):
                fp = " ".join(toks[s - 1:s - 1 + k])
                wins.setdefault(fp, []).append((d, s))
        removed = {}
        for occs in wins.values():
            if len(occs) >= 2:
                keep = min(occs)
                for d, s in occs:
                    if (d, s) != keep:
                        removed.setdefault(d, set()).update(
                            range(s, s + k))
        expect = {}
        for d, text in docs:
            toks = text.split(" ")
            rp = {p for p in removed.get(d, set()) if p <= len(toks)}
            clean = " ".join(t for i, t in enumerate(toks, 1)
                             if i not in rp)
            n_dup = sum(1 for occs in wins.values() if len(occs) >= 2
                        for (dd, ss) in occs
                        if dd == d and (dd, ss) != min(occs))
            expect[d] = (len(toks), n_dup, len(rp), clean)

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.n_dup_windows,
                          r.n_removed_tokens, r.clean_text)
               for r in dedup_repeated_windows(df, win_tokens=k).collect()}
        assert got == expect, f"trial {trial}"


def test_canonical_url_scheme_optional(spark):
    """Scheme-less www captures canonicalize to the bare host — the
    blocklist and dedup cannot be evaded by omitting the scheme."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.functions.text import (
        canonical_url, url_host,
    )
    rows = spark.createDataFrame(
        [("www.h3.example.com/p/1",),
         ("https://www.h3.example.com/p/1/?q=2#f",),
         ("http://h3.example.com/p/1",)], "url string") \
        .select(canonical_url("url").alias("c")) \
        .withColumn("h", url_host("c")).collect()
    assert {r.c for r in rows} == {"h3.example.com/p/1"}
    assert {r.h for r in rows} == {"h3.example.com"}


def test_trained_classifier_table_path_equals_implicit_x63(spark, sf_dir):
    """x74's scorer fed the IMPLICIT weight table (bucket, bucket-1000)
    at x63's threshold must reproduce x63 row-for-row — pins that the
    broadcast-join path and the HOF-aggregate path are the same
    classifier, differing only in where the weights come from
    (VERDICT r7 #4)."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.plans.extensions import (
        _CLF_THRESHOLD, _TRAINED_BUCKETS, classifier_score_with_weights,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load, scale_out

    implicit = spark.range(0, _TRAINED_BUCKETS).select(
        F.col("id").alias("bucket"), (F.col("id") - 1000).alias("weight"))
    docs = scale_out(load(spark, sf_dir, "documents"))
    via_table = {r.doc_id: (r.n_tokens, r.score, r.mean_weight, r.keep)
                 for r in classifier_score_with_weights(
                     docs, implicit, threshold=_CLF_THRESHOLD).collect()}
    x63 = {r.doc_id: (r.n_tokens, r.score, r.mean_weight, r.keep)
           for r in all_queries()["x63_quality_classifier"]
           .fn(spark, sf_dir).collect()}
    assert via_table == x63


def test_trained_classifier_learns_a_discriminating_gate(spark, sf_dir):
    """The lang='en' model must actually separate the classes it was
    trained on: the keep-rate among en docs exceeds the keep-rate among
    non-en docs (a degenerate all-keep / no-keep gate fails), and the
    weight table stays on the int grid within [-1000, 1000]."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.plans.extensions import (
        train_token_weights,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    out = all_queries()["x74_quality_classifier_trained"] \
        .fn(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    m = out.join(docs, "doc_id").groupBy(
        (F.col("lang") == "en").alias("is_en")) \
        .agg(F.avg("keep").alias("keep_rate")).collect()
    rates = {r.is_en: r.keep_rate for r in m}
    assert rates[True] > rates[False]
    assert 0.0 < rates[True] < 1.0  # not degenerate

    w = train_token_weights(load(spark, sf_dir, "documents"),
                            F.col("lang") == "en")
    stats = w.agg(F.min("weight"), F.max("weight")).collect()[0]
    assert -1000 <= stats[0] <= stats[1] <= 1000


def test_trained_classifier_weights_join_is_broadcast(spark, sf_dir):
    """Plan pin: the model table rides a BroadcastHashJoin (never a
    fact-side shuffle for a KB-scale weights dim)."""
    from data_pipeline_foundations_spark.registry import all_queries

    df = all_queries()["x74_quality_classifier_trained"].fn(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only nested-loop is the whitelisted single-row class-totals
    # attach (test_plan_sweep.BNLJ_WHITELIST); a cartesian is always wrong
    assert "CartesianProduct" not in plan


def test_qsketch_merge_equals_whole(spark):
    """Quantile-sketch mergeable contract: cell counts from disjoint
    shards sum to the whole-corpus sketch bit-for-bit, so day
    partitions sketch independently at 100 TB."""
    from data_pipeline_foundations_spark.operators.sketches import (
        qsketch_build, qsketch_merge,
    )
    d = spark.range(1, 4_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'es' END AS lang",
        "(id * 37) % 9001 + 1 AS v")
    merged = qsketch_merge(qsketch_build(d.filter("id < 1500"), "v"),
                           qsketch_build(d.filter("id >= 1500"), "v"))
    whole = qsketch_build(d, "v")
    key = lambda r: (r.stratum, r.cell)  # noqa: E731
    assert sorted(map(lambda r: (r.stratum, r.cell, r.n),
                      merged.collect())) == \
           sorted(map(lambda r: (r.stratum, r.cell, r.n),
                      whole.collect()))


def test_qsketch_quantile_error_bound(spark):
    """The estimate is the covering cell's LOWER bound: for every
    stratum and quantile, lo <= exact quantile <= lo * 1.25 (cells are
    quartile sub-octaves; exact below 8). Footprint <= 504 cells."""
    from data_pipeline_foundations_spark.operators.sketches import (
        QS_MAX_CELLS, qsketch_build, qsketch_quantiles,
    )
    d = spark.range(1, 5_000).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS lang",
        "CAST(1 + (id * id) % 100000 AS LONG) AS v")
    sk = qsketch_build(d, "v")
    assert sk.groupBy("stratum").count().agg(
        {"count": "max"}).collect()[0][0] <= QS_MAX_CELLS
    got = {r.stratum: r for r in qsketch_quantiles(
        sk, [("p50", 1, 2), ("p90", 9, 10)]).collect()}
    vals: dict[str, list[int]] = {}
    for r in d.collect():
        vals.setdefault(r.lang, []).append(r.v)
    import math
    for s, xs in vals.items():
        xs.sort()
        for name, num, den in [("p50", 1, 2), ("p90", 9, 10)]:
            exact = xs[math.ceil(num * len(xs) / den) - 1]
            lo = getattr(got[s], name)
            width = max(lo // 4, 1)   # sub-octave cell width
            assert lo <= exact <= lo + width, (s, name, lo, exact)


def test_simhash_band_combo_output_identical(spark, sf_dir, duck):
    """The single-band side of simhash_pairs' automatic index choice:
    a 32-bit signature has 4 bands, fewer than max_hamming + 2, so no
    clean band PAIR is guaranteed and the operator takes single bands —
    its pairs must equal the oracle's exactly. x05's oracle parity
    covers the 64-bit 2-combo side."""
    from data_pipeline_foundations_spark.operators.dedup import (
        oracle_simhash_pairs_sql, simhash_pairs,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    got = sorted(tuple(r) for r in simhash_pairs(docs, bits=32).collect())
    want = sorted(tuple(r) for r in duck.execute(
        oracle_simhash_pairs_sql(bits=32)).fetchall())
    assert len(got) > 0
    assert got == want


# ---------------------------------------------------------------------------
# r11 part 2 additions: x84 shard shuffle, x85 LSH recall, x87 token
# yield, x88 vocabulary growth (x86's pins live in test_similarity.py)
# ---------------------------------------------------------------------------


def test_shard_shuffle_is_a_permutation_into_bounded_shards(spark, sf_dir):
    """Every document appears exactly once; shard count is ceil(n/125);
    positions within each shard are exactly 1..shard_size (a dense
    ordering a shard writer can rely on)."""
    import math

    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    out = all_queries()["x84_shard_shuffle"].fn(spark, sf_dir).toPandas()
    n = load(spark, sf_dir, "documents").count()
    assert len(out) == n
    assert out["doc_id"].is_unique
    n_shards = math.ceil(n / 125)
    assert set(out["shard_id"]) <= set(range(n_shards))
    for sid, grp in out.groupby("shard_id"):
        assert sorted(grp["pos_in_shard"]) == list(range(1, len(grp) + 1))
        # within-shard order follows the shuffle key
        ordered = grp.sort_values("pos_in_shard")["shuffle_key"].tolist()
        assert ordered == sorted(ordered)


def test_lsh_recall_rows_are_well_formed(spark, sf_dir):
    """Recall rows: anchors only, n_hit <= n_true, recall = hit/true in
    [0, 1], and every anchor has at least one true partner (rows for
    zero-truth anchors don't exist)."""
    from data_pipeline_foundations_spark.registry import all_queries

    out = all_queries()["x85_lsh_recall"].fn(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["anchor_id"] < 50).all()
    assert (out["n_true"] >= 1).all()
    assert (out["n_hit"] <= out["n_true"]).all()
    assert ((out["recall"] >= 0.0) & (out["recall"] <= 1.0)).all()
    assert (out["recall"] == out["n_hit"] / out["n_true"]).all()


def test_token_yield_accounting_is_consistent(spark, sf_dir):
    """Kept counts never exceed raw counts, yields are ratios of the
    emitted integer columns, and the global kept-doc total equals the
    number of distinct content fingerprints (x01's invariant)."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.functions.text import fingerprint
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    out = all_queries()["x87_token_yield"].fn(spark, sf_dir).toPandas()
    assert (out["n_docs_kept"] <= out["n_docs"]).all()
    assert (out["n_tokens_kept"] <= out["n_tokens"]).all()
    assert (out["doc_yield"] == out["n_docs_kept"] / out["n_docs"]).all()
    n_fp = (load(spark, sf_dir, "documents")
            .select(fingerprint("text").alias("fp")).distinct().count())
    assert int(out["n_docs_kept"].sum()) == n_fp


def test_vocab_growth_cumulates_to_total_distinct(spark, sf_dir):
    """The decile curve is a prefix-sum of the per-decile novelty and
    its final value equals the corpus's total distinct shingle count."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        with_shingle_hashes,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    out = (all_queries()["x88_vocab_growth"].fn(spark, sf_dir)
           .toPandas().sort_values("decile").reset_index(drop=True))
    assert (out["n_new_shingles"].cumsum()
            == out["cum_distinct_shingles"]).all()
    total = (with_shingle_hashes(
                 load(spark, sf_dir, "documents"), "text", 3, out="sh")
             .select(F.explode("sh").alias("s")).distinct().count())
    assert int(out["cum_distinct_shingles"].iloc[-1]) == total


# ---------------------------------------------------------------------------
# r11 part 3 additions: x89 tf-idf keywords, x90 KMV source similarity
# (x91's pins live in test_similarity.py)
# ---------------------------------------------------------------------------


def test_tfidf_keywords_rank_dense_and_score_ordered(spark, sf_dir):
    """Per doc: ranks are exactly 1..min(3, distinct tokens), scores are
    non-increasing in rank, and the rank-1 term beats every other term
    of that document on the integer-scaled score (ties to token asc)."""
    from data_pipeline_foundations_spark.registry import all_queries

    out = all_queries()["x89_tfidf_keywords"].fn(spark, sf_dir).toPandas()
    assert (out["rank"] >= 1).all() and (out["rank"] <= 3).all()
    for _, grp in out.groupby("doc_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        ordered = grp.sort_values("rank")["score"].tolist()
        assert all(a >= b for a, b in zip(ordered, ordered[1:]))


def test_tfidf_rarer_term_outranks_common_term_at_equal_tf(spark):
    """On a hand corpus where every doc shares token 'common' but only
    one doc holds 'rare' (same tf), the rare token must rank first —
    the monotone-in-rarity property of the rational idf."""
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["common rare", "common alpha", "common beta",
                 "common gamma"],
    }))
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        from data_pipeline_foundations_spark.registry import all_queries
        out = (all_queries()["x89_tfidf_keywords"].fn(spark, td)
               .toPandas())
    top0 = out[(out.doc_id == 0) & (out["rank"] == 1)]["token"].iloc[0]
    assert top0 == "rare"


def test_kmv_merge_equals_whole_and_matches_exact_small(spark, sf_dir):
    """(a) Mergeable contract: sketching two disjoint halves and merging
    equals sketching the whole corpus (exact set equality — KMV's merge
    is lossless by the pigeonhole argument). (b) With k larger than the
    per-source distinct-shingle count the sketch IS the full set, so the
    'estimate' must equal the exact Jaccard."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        with_shingle_hashes,
    )
    from data_pipeline_foundations_spark.operators.sketches import (
        kmv_jaccard, kmv_merge, kmv_sketch,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    shx = (with_shingle_hashes(docs, "text", 3, out="_sh")
           .select("doc_id", "source", F.explode("_sh").alias("s")))
    whole = kmv_sketch(shx, key_col="s", strata_col="source")
    halves = kmv_merge(
        kmv_sketch(shx.filter(F.col("doc_id") % 2 == 0),
                   key_col="s", strata_col="source"),
        kmv_sketch(shx.filter(F.col("doc_id") % 2 == 1),
                   key_col="s", strata_col="source"))
    w = {r["stratum"]: list(r["sk"]) for r in whole.collect()}
    h = {r["stratum"]: list(r["sk"]) for r in halves.collect()}
    assert w == h

    big_k = 100_000  # > per-source distinct shingles at the smoke SF
    sk = kmv_sketch(shx, key_col="s", strata_col="source", k=big_k)
    est = kmv_jaccard(sk, k=big_k).toPandas()
    exact = (shx.select("source", "s").distinct().toPandas()
             .groupby("source")["s"].apply(set).to_dict())
    for _, r in est.iterrows():
        a, b = exact[r["stratum_a"]], exact[r["stratum_b"]]
        true_j = len(a & b) / len(a | b)
        assert abs(r["jaccard_est"] - true_j) < 1e-12


def test_kmv_estimate_within_error_bound_at_sketch_k(spark, sf_dir):
    """At the registered k=256 the estimate must sit within ~4 standard
    errors (4/sqrt(k) = 0.25) of the exact Jaccard for every pair — a
    loose but RNG-free bound (the sketch is deterministic, so this can
    never flake)."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        with_shingle_hashes,
    )
    from data_pipeline_foundations_spark.operators.sketches import KMV_K
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    est = (all_queries()["x90_kmv_source_similarity"].fn(spark, sf_dir)
           .toPandas())
    shx = (with_shingle_hashes(
               load(spark, sf_dir, "documents"), "text", 3, out="_sh")
           .select("source", F.explode("_sh").alias("s")).distinct())
    exact = shx.toPandas().groupby("source")["s"].apply(set).to_dict()
    bound = 4.0 / (KMV_K ** 0.5)
    for _, r in est.iterrows():
        a, b = exact[r["stratum_a"]], exact[r["stratum_b"]]
        true_j = len(a & b) / len(a | b)
        assert abs(r["jaccard_est"] - true_j) <= bound


def test_source_overlap_bitmask_equals_collect_set_form(spark, sf_dir):
    """r11: the registered x45 bitmask plan (fixed-width bit_or masks,
    scan-local bit-pair expansion, element_at name resolution) is
    output-identical to the r5 collect_set form it replaced — the >62
    -source fallback path — on the same corpus."""
    from data_pipeline_foundations_spark.plans.extensions import (
        _source_overlap_collect_set,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    key = ["source_a", "source_b"]
    new = (all_queries()["x45_source_overlap"].fn(spark, sf_dir)
           .toPandas().sort_values(key).reset_index(drop=True))
    old = (_source_overlap_collect_set(load(spark, sf_dir, "documents"))
           .toPandas().sort_values(key).reset_index(drop=True))
    assert new.equals(old)


def test_source_overlap_null_source_dropped_not_crash(spark, sf_dir, tmp_path):
    """r12 (ADVICE): a NULL source must behave like the r5 collect_set
    form — the document contributes no source membership — instead of
    crashing the driver-side sorted() or shiftlefting by −1. Pin: on a
    corpus where some docs have NULL source, the registered query equals
    the collect_set fallback run on the NULL-filtered corpus."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.plans.extensions import (
        _source_overlap_collect_set, x45_source_overlap,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents").withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("source")))
    out = str(tmp_path / "nullsrc")
    docs.write.parquet(f"{out}/documents.parquet")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        os.symlink(f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet")
    key = ["source_a", "source_b"]
    new = (x45_source_overlap(spark, out)
           .toPandas().sort_values(key).reset_index(drop=True))
    old = (_source_overlap_collect_set(
        docs.filter(F.col("source").isNotNull()))
        .toPandas().sort_values(key).reset_index(drop=True))
    assert len(new) > 0 and new.equals(old)
