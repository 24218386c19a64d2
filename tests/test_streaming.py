"""Structured Streaming: exactly-once ledgered ingest + windowed agg parity."""

from __future__ import annotations

import os

from data_pipeline_foundations_spark.streaming.file_ingest import (
    run_available_now, stage_csv_file,
)
from data_pipeline_foundations_spark.streaming.windowed import run_over_dir
from data_pipeline_foundations_spark.tables import load


def _write_csv(path: str, rows: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("tx_id,amount,date,reference\n")
        fh.write("\n".join(rows) + "\n")


def test_exactly_once_file_ingest(spark, tmp_path):
    raw = tmp_path / "raw"; raw.mkdir()
    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: one real file (with trailing totals row), one too-small file
    _write_csv(str(raw / "a.csv"), [
        "1,1050,2025-06-01 10:00:00,r1",
        "2,2000,2025-06-01 11:00:00,r2",
        "999,3050,,TOTAL",          # totals row → dropped at staging
    ])
    _write_csv(str(raw / "tiny.csv"), ["3,500,2025-06-01 12:00:00,r3"])  # <=1 row → skipped

    assert stage_csv_file(str(raw / "a.csv"), str(landing)) is not None
    assert stage_csv_file(str(raw / "tiny.csv"), str(landing)) is None

    run_available_now(spark, str(landing), out, ckpt)
    df1 = spark.read.parquet(out)
    assert df1.count() == 2
    amounts = {r.tx_id: r.amount for r in df1.collect()}
    assert amounts == {1: 10.50, 2: 20.00}  # cents → units

    # re-run with no new files: exactly-once, no duplicates
    run_available_now(spark, str(landing), out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # batch 2: a new file is picked up incrementally
    _write_csv(str(raw / "b.csv"), [
        "4,100,2025-06-02 09:00:00,r4",
        "5,250,2025-06-02 09:30:00,r5",
        "999,350,,TOTAL",
    ])
    stage_csv_file(str(raw / "b.csv"), str(landing))
    run_available_now(spark, str(landing), out, ckpt)
    df3 = spark.read.parquet(out)
    assert df3.count() == 4
    assert df3.filter("tx_id = 4").first().amount == 1.00


def test_windowed_stream_equals_batch(spark, sf_dir, tmp_path):
    events_dir = str(tmp_path / "events_us")
    load(spark, sf_dir, "events").write.parquet(events_dir)  # µs timestamps

    streamed = run_over_dir(spark, events_dir, "test_windowed_out").toPandas()

    from data_pipeline_foundations_spark.registry import all_queries
    batch = all_queries()["s01_tumbling_window"].fn(spark, sf_dir).toPandas()

    key = ["window_start", "event_type"]
    streamed = streamed.sort_values(key).reset_index(drop=True)[sorted(streamed.columns)]
    batch = batch.sort_values(key).reset_index(drop=True)[sorted(batch.columns)]
    assert streamed.equals(batch)


def test_interval_join_stream_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (watermarked, append mode) emits
    exactly the pairs the batch range_join finds on the same events."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.temporal import range_join
    from data_pipeline_foundations_spark.streaming import interval_join

    events_dir = str(tmp_path / "events_us_ij")
    load(spark, sf_dir, "events").write.parquet(events_dir)  # µs timestamps

    streamed = {(r.error_id, r.user_id, r.click_ts, r.click_value)
                for r in interval_join.run_over_dir(
                    spark, events_dir, "test_ij_out").collect()}

    ev = load(spark, sf_dir, "events")
    errors = (ev.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"), "user_id",
                      F.col("ts").alias("w_start"),
                      (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    batch = {(r.error_id, r.user_id, r.ts, r.value)
             for r in range_join(clicks, errors, on="user_id",
                                 point_ts="ts", start_col="w_start",
                                 end_col="w_end",
                                 bin_width=dt.timedelta(hours=2)).collect()}
    assert streamed == batch and len(batch) > 0


def test_dedup_stream_equals_batch_fingerprints(spark, sf_dir, tmp_path):
    """Streaming first-occurrence dedup keeps exactly one survivor per
    fingerprint, and the surviving fingerprint SET equals the batch
    x01 canonical set (which instance survives differs by design —
    arrival order vs min doc_id; see streaming/dedup.py docstring)."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.streaming import dedup as sdedup

    docs_dir = str(tmp_path / "docs_stream")
    (load(spark, sf_dir, "documents")
     .withColumn("n_chars", F.col("n_chars").cast("long"))
     .withColumn("event_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
     .coalesce(1).write.parquet(docs_dir))

    survivors = sdedup.run_over_dir(spark, docs_dir, "test_dedup_out")
    got = {r.fp for r in survivors.select("fp").collect()}
    assert survivors.count() == len(got)  # one survivor per fingerprint

    from data_pipeline_foundations_spark.functions.text import fingerprint
    want = {r.fp for r in (load(spark, sf_dir, "documents")
                           .select(fingerprint("text").alias("fp"))
                           .distinct().collect())}
    assert got == want


def test_dedup_stream_against_store(spark, sf_dir, tmp_path):
    """Stream-static incremental dedup: within-stream dups collapse to
    their first arrival AND anything already in the fingerprint store is
    dropped — the streaming twin of dedup_against_store."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.functions.text import fingerprint
    from data_pipeline_foundations_spark.streaming.dedup import (
        DOCS_SCHEMA, dedup_stream_against_store,
    )

    docs = (load(spark, sf_dir, "documents").limit(200)
            .withColumn("n_chars", F.col("n_chars").cast("long"))
            .withColumn("event_ts",
                        F.lit("2024-01-01 00:00:00").cast("timestamp")))
    docs_dir = str(tmp_path / "docs_stream_store")
    docs.coalesce(1).write.parquet(docs_dir)

    # store: fingerprints of the doc_id % 3 == 0 slice
    history = (docs.filter(F.col("doc_id") % 3 == 0)
               .select(fingerprint("text").alias("fp")))
    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .format("parquet").load(docs_dir))
    q = (dedup_stream_against_store(stream, history)
         .writeStream.outputMode("append")
         .format("memory").queryName("test_dedup_store_out")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.fp for r in
           spark.sql("SELECT fp FROM test_dedup_store_out").collect()}

    all_fp = docs.select(F.col("doc_id"), fingerprint("text").alias("fp"))
    h = {r.fp for r in history.collect()}
    want = {r.fp for r in all_fp.collect()} - h
    assert got == want and len(want) > 0


def test_resample_stream_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static temperature resampling admits EXACTLY the batch
    operator's rows: thresholds are a static profile, membership is the
    deterministic md5 bucket, so batch≡stream with no set-level caveats."""
    from data_pipeline_foundations_spark.operators.sampling import (
        temperature_resample,
    )
    from data_pipeline_foundations_spark.streaming.resample import (
        resample_stream,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    batch = temperature_resample(docs, strata_col="lang", key_col="doc_id")
    want = {r.doc_id for r in batch.select("doc_id").collect()}
    thresholds = (batch.select("lang", "keep_threshold").distinct())

    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .format("parquet").load(src))
    q = (resample_stream(stream, thresholds)
         .writeStream.outputMode("append")
         .format("memory").queryName("resample_out")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {r.doc_id for r in
           spark.sql("SELECT doc_id FROM resample_out").collect()}
    assert got == want and len(got) > 0


def test_boilerplate_stream_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static boilerplate cleaning reproduces the batch operator
    bit-for-bit: the profile is a static per-source chrome-fingerprint
    array, fingerprints are the same md5 scheme, and cleaning is fully
    row-local — so (n_segments, n_boilerplate, clean_text) match per
    document with no set-level caveats."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        boilerplate_profile, remove_boilerplate_segments,
    )
    from data_pipeline_foundations_spark.streaming.boilerplate import (
        clean_stream,
    )
    from data_pipeline_foundations_spark.tables import load

    hdr = ("concat('nav menu home about contact rss login ', source,"
           " ' ', text)")
    docs = (load(spark, sf_dir, "documents")
            .withColumn("text", F.expr(hdr)))
    want = {r.doc_id: (r.n_segments, r.n_boilerplate, r.clean_text)
            for r in remove_boilerplate_segments(docs).collect()}
    profile = boilerplate_profile(docs)

    src = str(tmp_path / "docs_boiler")
    docs.write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .format("parquet").load(src))
    q = (clean_stream(stream, profile)
         .writeStream.outputMode("append")
         .format("memory").queryName("boiler_out")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {r.doc_id: (r.n_segments, r.n_boilerplate, r.clean_text)
           for r in spark.sql("SELECT * FROM boiler_out").collect()}
    assert got == want
    assert any(v[1] > 0 for v in got.values())  # chrome actually stripped


def test_decontamination_gate_stream_equals_batch(spark, sf_dir, tmp_path):
    """The 17th twin: the streaming admission gate reproduces itself on
    a batch frame row-for-row (stateless, scan-local), and its flagged
    set IS x53's decision — every registered x53 row appears flagged
    with the same n_shingles and n_bloom_hits, and no unflagged doc
    appears in x53."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        DECON_N, with_shingle_hashes,
    )
    from data_pipeline_foundations_spark.operators.sketches import (
        bloom_bitset_words, bloom_build,
    )
    from data_pipeline_foundations_spark.plans.quality import (
        _BLOOM_BENCH_MOD,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.streaming.decontamination import (
        decontamination_gate_stream,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    bench = (with_shingle_hashes(
                 docs.filter(F.col("doc_id") % _BLOOM_BENCH_MOD == 0),
                 "text", DECON_N, out="_sh")
             .select(F.explode_outer(F.array_distinct("_sh")).alias("s"))
             .filter(F.col("s").isNotNull()).distinct())
    bits = bloom_bitset_words(bloom_build(bench, "s"))
    corpus = docs.filter(F.col("doc_id") % _BLOOM_BENCH_MOD != 0)

    want = {r.doc_id: (r.n_shingles, r.n_bloom_hits, r.flagged)
            for r in decontamination_gate_stream(corpus, bits,
                                                 n=DECON_N).collect()}
    src = str(tmp_path / "docs_decon")
    corpus.write.parquet(src)
    stream = (spark.readStream.schema(corpus.schema)
              .format("parquet").load(src))
    q = (decontamination_gate_stream(stream, bits, n=DECON_N)
         .writeStream.outputMode("append")
         .format("memory").queryName("decon_out")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {r.doc_id: (r.n_shingles, r.n_bloom_hits, r.flagged)
           for r in spark.sql("SELECT * FROM decon_out").collect()}
    assert got == want
    # the gate's decision IS x53's: flagged set and counts match
    x53 = {r.doc_id: (r.n_shingles, r.n_bloom_hits) for r in
           all_queries()["x53_bloom_decontamination"]
           .fn(spark, sf_dir).collect()}
    flagged = {d for d, v in got.items() if v[2] == 1}
    assert flagged == set(x53)
    assert all((x53[d][0], x53[d][1]) == (got[d][0], got[d][1])
               for d in flagged)
    assert flagged and len(flagged) < len(got)  # gate actually selects


def test_span_mask_stream_contains_batch(spark, sf_dir, tmp_path):
    """x48's streaming twin: (1) exact masking on a hand-built corpus —
    the stream masks EVERY occurrence of a profiled span, including the
    first one the batch pass keeps; (2) containment on the real corpus —
    per document the stream removes at least what batch x48 removes,
    because the profile covers exactly the duplicated fingerprints."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.dedup import (
        dedup_repeated_windows,
    )
    from data_pipeline_foundations_spark.streaming.span_mask import (
        dup_window_profile, mask_stream,
    )
    from data_pipeline_foundations_spark.tables import load

    def run(docs_df, name):
        profile = dup_window_profile(docs_df, win_tokens=4)
        src = str(tmp_path / name)
        with_ts = docs_df.withColumn(
            "event_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double")))
        with_ts.write.parquet(src)
        stream = (spark.readStream.schema(with_ts.schema)
                  .format("parquet").load(src))
        q = (mask_stream(stream, profile, win_tokens=4)
             .writeStream.outputMode("complete")
             .format("memory").queryName(name)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return {r.doc_id: r for r in
                spark.sql(f"SELECT * FROM {name}").collect()}

    tiny = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y a b c d w"),
         (3, "p q r s t"), (4, "u v")],
        "doc_id long, text string")
    got = run(tiny, "span_tiny")
    assert got[1].clean_text == "e"            # first occurrence masked too
    assert got[2].clean_text == "x y w"
    assert got[3].clean_text == "p q r s t"
    assert got[4].clean_text == "u v" and got[4].n_tokens == 2

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = {r.doc_id: r.n_removed_tokens
             for r in dedup_repeated_windows(docs, win_tokens=4).collect()}
    got = run(docs, "span_corpus")
    assert set(got) == set(batch)
    assert all(got[d].n_removed_tokens >= batch[d] for d in batch)
    assert any(v > 0 for v in batch.values())


def test_cms_sketch_stream_equals_batch(spark, sf_dir, tmp_path):
    """The CMS builder is one explode + groupBy-count, so the SAME
    function runs unchanged as a Structured Streaming stateful
    aggregation — on a closed input the streamed sketch equals the batch
    sketch cell-for-cell (int64 sums, arrival-order-free). This is the
    operational point of a mergeable sketch: the ingest can maintain it
    incrementally and hand analysts the same bits batch would."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.sketches import (
        cms_sketch,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    want = sorted(cms_sketch(toks, "token").collect(),
                  key=lambda r: (r.row, r.bucket))

    src = str(tmp_path / "docs_cms")
    docs.write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .format("parquet").load(src)
              .select(F.explode(F.split("text", " ")).alias("token")))
    q = (cms_sketch(stream, "token")
         .writeStream.outputMode("complete")
         .format("memory").queryName("cms_out")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = sorted(spark.sql("SELECT * FROM cms_out").collect(),
                 key=lambda r: (r.row, r.bucket))
    assert got == want


def test_ann_serving_stream_equals_batch(spark, sf_dir, tmp_path):
    """Online ANN serving: a closed query stream answered per
    micro-batch against the static stored-codes index produces exactly
    the batch search's rows — same kernels, same exact-int ADC tables,
    only the arrival framing differs."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.similarity import (
        build_ivfpq_model, encode_corpus, pq_search_from_codes,
    )
    from data_pipeline_foundations_spark.streaming.ann_serving import (
        serve_pq_queries,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    model = build_ivfpq_model(emb)
    codes = encode_corpus(emb, model).cache()
    queries = emb.filter(F.col("vec_id") < 10)
    want = sorted(map(tuple,
                      pq_search_from_codes(codes, queries, model).collect()))

    src = str(tmp_path / "queries")
    queries.write.parquet(src)
    stream = (spark.readStream.schema(queries.schema)
              .format("parquet").load(src))
    got = []
    q = serve_pq_queries(stream, codes, model,
                         on_result=lambda df, bid: got.extend(
                             map(tuple, df.collect())))
    q.awaitTermination()
    codes.unpersist()
    assert sorted(got) == want and len(want) > 0


def test_ingest_published_snapshot_is_atomic(spark, tmp_path):
    """VERDICT r4 task #6: the ledgered ingest publishes its accumulated
    sink as a versioned snapshot after each drain; batch consumers read
    the snapshot, where visibility flips atomically on the _SUCCESS
    marker — an uncommitted (crashed/in-flight) version is invisible."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        list_versions, read_versioned,
    )
    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pub = str(tmp_path / "published")
    raw = tmp_path / "raw"; raw.mkdir()

    _write_csv(str(raw / "a.csv"), [
        "1,1050,2025-06-01 10:00:00,r1",
        "2,2000,2025-06-01 11:00:00,r2",
        "999,3050,,TOTAL",
    ])
    stage_csv_file(str(raw / "a.csv"), str(landing))
    v1 = run_available_now(spark, str(landing), out, ckpt,
                           publish_root=pub)
    assert v1 is not None
    assert read_versioned(spark, pub).count() == 2

    # a crashed concurrent publish: data files, no _SUCCESS marker —
    # consumers keep resolving v1
    orphan = os.path.join(pub, "v_00000005")
    (spark.read.parquet(out).write.mode("overwrite").parquet(orphan))
    os.remove(os.path.join(orphan, "_SUCCESS"))
    assert read_versioned(spark, pub).count() == 2
    assert len(list_versions(spark, pub)) == 1

    # second drain picks up a new file and publishes v2 with ALL rows
    _write_csv(str(raw / "b.csv"), [
        "4,100,2025-06-02 09:00:00,r4",
        "5,250,2025-06-02 09:30:00,r5",
        "999,350,,TOTAL",
    ])
    stage_csv_file(str(raw / "b.csv"), str(landing))
    run_available_now(spark, str(landing), out, ckpt, publish_root=pub)
    snap = read_versioned(spark, pub)
    assert snap.count() == 4
    assert {r.tx_id for r in snap.collect()} == {1, 2, 4, 5}


def test_ann_serving_live_trigger_rolling_index_swap(spark, sf_dir, tmp_path):
    """VERDICT r4 task #7: serving under a LIVE processing-time trigger,
    with the code table resolved per batch from a versioned snapshot —
    a batch-side re-encode commits a new version and the very next
    micro-batch answers against it, no restart. Batches before the
    commit must match the batch search over codes v1, batches after it
    over codes v2."""
    import time

    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.similarity import (
        build_ivfpq_model, encode_corpus, pq_search_from_codes,
        save_ivfpq_model,
    )
    from data_pipeline_foundations_spark.sources.warehouse import (
        write_versioned,
    )
    from data_pipeline_foundations_spark.streaming.ann_serving import (
        serve_pq_queries,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    model = build_ivfpq_model(emb)
    model_path = str(tmp_path / "model")
    save_ivfpq_model(spark, model, model_path)
    codes_root = str(tmp_path / "codes")
    write_versioned(spark, codes_root, encode_corpus(emb, model))

    qa = emb.filter(F.col("vec_id") < 5)
    qb = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    # corpus v2: half the non-query vectors dropped, re-encoded offline
    emb2 = emb.filter((F.col("vec_id") < 10) | (F.col("vec_id") % 2 == 0))
    codes_v1 = encode_corpus(emb, model)
    codes_v2 = encode_corpus(emb2, model)
    want_a = sorted(map(tuple,
                        pq_search_from_codes(codes_v1, qa, model).collect()))
    want_b = sorted(map(tuple,
                        pq_search_from_codes(codes_v2, qb, model).collect()))
    assert want_a and want_b and want_a != want_b

    src = str(tmp_path / "queries")
    qa.write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(qa.schema)
              .format("parquet").load(src))
    got = []
    q = serve_pq_queries(stream, on_result=lambda df, bid: got.extend(
                             map(tuple, df.collect())),
                         trigger_available_now=False,
                         processing_time="500 milliseconds",
                         codes_root=codes_root, model_path=model_path)
    try:
        deadline = time.time() + 60
        while len(got) < len(want_a) and time.time() < deadline:
            time.sleep(0.5)
        assert sorted(got) == want_a
        # rolling swap: commit codes v2, then feed the next query batch
        write_versioned(spark, codes_root, codes_v2)
        got.clear()
        qb.write.mode("append").parquet(src)
        deadline = time.time() + 60
        while len(got) < len(want_b) and time.time() < deadline:
            time.sleep(0.5)
        assert sorted(got) == want_b
    finally:
        q.stop()


def test_publish_with_empty_landing_returns_none(spark, tmp_path):
    """ADVICE r5: a drain that never processed a file leaves no sink
    directory; publish must skip (return None), not raise."""
    from data_pipeline_foundations_spark.streaming.file_ingest import (
        run_available_now,
    )
    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pub = str(tmp_path / "published")
    assert run_available_now(spark, str(landing), out, ckpt,
                             publish_root=pub) is None
    import os
    assert not os.path.exists(pub)


def test_url_frontier_stream_equals_batch(spark, sf_dir, tmp_path):
    """The streaming URL frontier admits exactly one capture per
    canonical URL, never a blocklisted host, and its canonical-URL
    survivor set equals the batch x62 operator's (which capture
    survives differs by design — arrival vs min doc_id)."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.plans.extensions import (
        _PAGE_URL_SPARK, BLOCKED_HOSTS, x62_canonical_url_dedup,
    )
    from data_pipeline_foundations_spark.streaming import url_frontier

    cap_dir = str(tmp_path / "captures")
    (load(spark, sf_dir, "documents")
     .select("doc_id", F.expr(_PAGE_URL_SPARK).alias("url"))
     .withColumn("event_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
     .coalesce(1).write.parquet(cap_dir))
    block = spark.createDataFrame([(h,) for h in BLOCKED_HOSTS],
                                  "bhost string")

    admitted = url_frontier.run_over_dir(spark, cap_dir, block,
                                         "test_frontier_out")
    got = {r.canon_url for r in admitted.select("canon_url").collect()}
    assert admitted.count() == len(got)  # one admission per canonical URL
    hosts = {r.host for r in admitted.select("host").collect()}
    assert hosts.isdisjoint(set(BLOCKED_HOSTS))

    want = {r.canon_url for r in
            x62_canonical_url_dedup(spark, sf_dir).collect()}
    assert got == want


def test_text_retrieval_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streamed model-free text retrieval == the registered x72 query
    row-for-row: same kernel, same exact-int cosine, only the arrival
    framing differs."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.plans.extensions import (
        x72_feature_hash_topk,
    )
    from data_pipeline_foundations_spark.streaming.text_retrieval import (
        hashed_corpus, serve_text_queries,
    )

    docs = load(spark, sf_dir, "documents")
    corpus = hashed_corpus(docs).persist()
    qdir = str(tmp_path / "queries")
    (docs.filter(F.col("doc_id") < 10)
     .select(F.col("doc_id").alias("query_id"), "text")
     .coalesce(1).write.parquet(qdir))

    got = []
    stream = (spark.readStream
              .schema("query_id long, text string")
              .format("parquet").load(qdir))
    q = serve_text_queries(
        stream, corpus,
        on_result=lambda df, bid: got.extend(
            (r.query_id, r.neighbor_id, r.rank, r.cosine)
            for r in df.collect()))
    q.awaitTermination()
    corpus.unpersist()

    want = [(r.query_id, r.neighbor_id, r.rank, r.cosine)
            for r in x72_feature_hash_topk(spark, sf_dir).collect()]
    assert sorted(got) == sorted(want)
    assert len(got) == 10 * 5


def test_quality_gate_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streamed trained-classifier gate == the registered x74 query
    row-for-row: same learned weight table, same broadcast-join scorer,
    only the arrival framing differs."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.plans.extensions import (
        train_token_weights, x74_quality_classifier_trained,
    )
    from data_pipeline_foundations_spark.streaming.quality_gate import (
        serve_quality_gate,
    )

    docs = load(spark, sf_dir, "documents")
    w = train_token_weights(docs, F.col("lang") == "en").persist()
    w.count()
    ddir = str(tmp_path / "docs_arriving")
    docs.select("doc_id", "text").coalesce(2).write.parquet(ddir)

    got = []
    stream = (spark.readStream
              .schema("doc_id long, text string")
              .format("parquet").load(ddir))
    q = serve_quality_gate(
        stream, w,
        on_result=lambda df, bid: got.extend(
            (r.doc_id, r.n_tokens, r.score, r.mean_weight, r.keep)
            for r in df.collect()))
    q.awaitTermination()
    w.unpersist()

    want = [(r.doc_id, r.n_tokens, r.score, r.mean_weight, r.keep)
            for r in x74_quality_classifier_trained(spark, sf_dir).collect()]
    assert sorted(got) == sorted(want)


def test_scd2_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming SCD2 maintenance lands BIT-EQUAL to the one-pass batch
    build (x76) under multi-batch arrival: run compression is
    associative, so per-batch scd2_apply_log over time-ordered
    micro-batches == scd2_from_events over the whole log. Also pins the
    versioned-store surface: one committed snapshot per non-empty batch,
    time-travel readable."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.plans.extensions import (
        x76_scd2_event_log,
    )
    from data_pipeline_foundations_spark.sources.warehouse import (
        list_versions, read_versioned,
    )
    from data_pipeline_foundations_spark.streaming.scd_apply import (
        apply_scd2_stream,
    )

    ev = (load(spark, sf_dir, "orders")
          .select(F.col("o_custkey").alias("custkey"),
                  F.col("o_orderstatus").alias("order_status"),
                  F.col("o_orderpriority").alias("order_priority"),
                  F.col("o_orderdate").cast("timestamp").alias("eff"),
                  F.col("o_orderkey").alias("seq")))
    ev_dir = str(tmp_path / "scd_events")
    years = [r.y for r in
             ev.select(F.year("eff").alias("y")).distinct().collect()]
    # one file per year, written oldest-first: maxFilesPerTrigger=1
    # turns each into its own micro-batch, in time order (the monotone
    # precondition scd2_apply_log documents)
    for y in sorted(years):
        (ev.filter(F.year("eff") == y).coalesce(1)
         .write.mode("append").parquet(ev_dir))

    dim_root = str(tmp_path / "scd_dim")
    commits: list[int] = []
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(ev_dir))
    q = apply_scd2_stream(
        stream, dim_root, key="custkey",
        tracked=["order_status", "order_priority"],
        on_commit=lambda d, b: commits.append(b))
    q.awaitTermination(300)

    key = lambda r: (r.custkey, r.valid_from, r.order_status,  # noqa: E731
                     r.order_priority, r.valid_to)
    got = sorted(map(key, read_versioned(spark, dim_root).collect()))
    want = sorted(map(key, x76_scd2_event_log(spark, sf_dir).collect()))
    assert got == want and len(got) > 0
    assert len(commits) == len(years) > 1
    assert len(list_versions(spark, dim_root)) == len(years)
    # time travel: the first committed snapshot has no second-year rows
    v0 = read_versioned(spark, dim_root,
                        version=list_versions(spark, dim_root)[0][0])
    assert (v0.agg(F.max(F.year("valid_from"))).collect()[0][0]
            == sorted(years)[0])


def test_enrichment_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streamed arcus enrichment == the registered pl04 query
    row-for-row — and unlike the foreachBatch twins this one runs the
    UNCHANGED batch function as a native streaming query (stateless
    projections + two stream-static left joins), under multi-batch
    arrival (maxFilesPerTrigger=1 over two files)."""
    from data_pipeline_foundations_spark.plans.pipelines import (
        _PL04_MIN_CREATED, arcus_star_inputs, pl04_arcus_enrichment,
    )
    from data_pipeline_foundations_spark.streaming.enrichment import (
        enrich_transaction_stream,
    )

    ev = load(spark, sf_dir, "events")
    ar, ulat, ua = arcus_star_inputs(ev)
    ar_dir = str(tmp_path / "tx_arriving")
    ar.coalesce(2).write.parquet(ar_dir)
    ulat = ulat.persist()
    ua = ua.persist()
    ulat.count(), ua.count()

    tx_stream = (spark.readStream.schema(ar.schema)
                 .option("maxFilesPerTrigger", 1)
                 .format("parquet").load(ar_dir))
    result = enrich_transaction_stream(
        tx_stream, ulat, ua, min_created_at=_PL04_MIN_CREATED)

    got: list[tuple] = []
    q = (result.writeStream
         .foreachBatch(lambda df, bid: got.extend(
             tuple(r) for r in df.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    ulat.unpersist(), ua.unpersist()

    want = [tuple(r) for r in pl04_arcus_enrichment(spark, sf_dir).collect()]
    assert sorted(got, key=str) == sorted(want, key=str)


def test_month_refresh_stream_equals_batch(spark, tmp_path):
    """Streamed month-partition refresh == the batch pl03 refresh on the
    same deliveries: exports land on a file stream (rows tagged with
    their month), each micro-batch routes through the UNCHANGED
    refresh_monthly_partitions, and the resulting dataset is
    row-identical to driving the batch function directly. Also pins the
    refresh semantics across restarts: a corrected re-delivery of a
    month replaces exactly that month's partition (refresh_delivered),
    while refresh_delivered=False skips months that already exist."""
    from data_pipeline_foundations_spark.pipelines.growth_data import (
        refresh_monthly_partitions,
    )
    from data_pipeline_foundations_spark.streaming.month_refresh import (
        refresh_month_stream,
    )

    raw_schema = ("`Install Day` string, `Media Source` string, "
                  "`Ad` string, `Impressions (sum)` string, "
                  "`Cost (sum)` string, month_tag string")
    landing = str(tmp_path / "landing")
    stream_ds = str(tmp_path / "stream_ds")
    batch_ds = str(tmp_path / "batch_ds")
    ckpt = str(tmp_path / "ckpt")

    jan = [("Jan 5, 2025", "fb", "a", "1,234", "$12.50", "2025_01"),
           ("Jan 31, 2025", "fb", None, "99", "$1.00", "2025_01")]
    feb = [("Feb 5, 2025", "fb", "b", "20", "$2.00", "2025_02")]
    spark.createDataFrame(jan + feb, raw_schema).coalesce(1) \
        .write.mode("append").parquet(landing)

    def run_stream(refresh_delivered=True):
        written: list[list[str]] = []
        stream = (spark.readStream.schema(raw_schema)
                  .format("parquet").load(landing))
        q = refresh_month_stream(
            stream, stream_ds, refresh_delivered=refresh_delivered,
            on_written=lambda tags, bid: written.append(tags),
            checkpoint=ckpt)
        q.awaitTermination()
        return written

    def snap(path):
        return sorted((tuple(r) for r in spark.read.parquet(path).collect()),
                      key=str)

    def frames(rows_by_tag):
        return {tag: spark.createDataFrame(rows, raw_schema)
                .drop("month_tag") for tag, rows in rows_by_tag.items()}

    # delivery 1: two months, both new
    assert run_stream() == [["2025_01", "2025_02"]]

    refresh_monthly_partitions(spark, batch_ds,
                               frames({"2025_01": jan, "2025_02": feb}))
    assert snap(stream_ds) == snap(batch_ds)
    # summary row (null Ad) dropped by the shared transform
    assert spark.read.parquet(stream_ds).count() == 2

    # delivery 2 (restart, same checkpoint): corrected Jan re-lands —
    # only the new file is processed, Jan's partition is REPLACED
    jan_fixed = [("Jan 9, 2025", "fb", "a2", "11", "$3.00", "2025_01")]
    spark.createDataFrame(jan_fixed, raw_schema).coalesce(1) \
        .write.mode("append").parquet(landing)
    assert run_stream() == [["2025_01"]]

    refresh_monthly_partitions(spark, batch_ds, frames({"2025_01": jan_fixed}),
                               months_to_refresh=["2025_01"])
    assert snap(stream_ds) == snap(batch_ds)
    out = spark.read.parquet(stream_ds)
    assert {r.ad_name for r in
            out.filter("month_tag = '2025_01'").collect()} == {"a2"}
    assert {r.ad_name for r in
            out.filter("month_tag = '2025_02'").collect()} == {"b"}

    # delivery 3: refresh_delivered=False — a re-delivery of an existing
    # month is CASE C skipped, dataset unchanged
    spark.createDataFrame(jan, raw_schema).coalesce(1) \
        .write.mode("append").parquet(landing)
    before = snap(stream_ds)
    assert run_stream(refresh_delivered=False) == []
    assert snap(stream_ds) == before


def test_month_refresh_null_tag_fails_loud(spark, tmp_path):
    """A micro-batch row with a NULL month_tag fails the batch with a
    DESCRIPTIVE error, not sorted()'s opaque None-vs-str TypeError —
    and never silently drops the row (ADVICE r10)."""
    import pytest

    from data_pipeline_foundations_spark.streaming.month_refresh import (
        _make_handler,
    )

    raw_schema = ("`Install Day` string, `Media Source` string, "
                  "`Ad` string, `Impressions (sum)` string, "
                  "`Cost (sum)` string, month_tag string")
    batch = spark.createDataFrame(
        [("Jan 5, 2025", "fb", "a", "10", "$1.00", "2025_01"),
         ("Feb 1, 2025", "fb", "b", "20", "$2.00", None)], raw_schema)
    handle = _make_handler(str(tmp_path / "ds"))
    with pytest.raises(ValueError, match="NULL 'month_tag'"):
        handle(batch, 0)


def test_kmv_maintain_stream_equals_batch_and_x90(spark, sf_dir, tmp_path):
    """The 18th twin: micro-batched KMV maintenance converges to the
    byte-identical sketch the batch build produces over the whole corpus
    (the merge is lossless, so batching cannot matter), across MULTIPLE
    versioned-store commits; the pairwise Jaccard derived from the
    maintained store equals the registered x90 rows."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.sketches import (
        kmv_jaccard,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.sources.warehouse import (
        list_versions, read_versioned,
    )
    from data_pipeline_foundations_spark.streaming.kmv_maintain import (
        batch_source_sketch, maintain_kmv_stream,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_kmv")
    # three part files -> three micro-batches with maxFilesPerTrigger=1
    for rem in range(3):
        (docs.filter(F.col("doc_id") % 3 == rem).coalesce(1)
         .write.mode("append").parquet(src))

    store = str(tmp_path / "kmv_store")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .format("parquet").load(src))
    q = maintain_kmv_stream(stream, store)
    q.awaitTermination()

    assert len(list_versions(spark, store)) >= 2  # multi-commit path ran
    got = {r["stratum"]: list(r["sk"])
           for r in read_versioned(spark, store).collect()}
    want = {r["stratum"]: list(r["sk"])
            for r in batch_source_sketch(docs).collect()}
    assert got == want

    est = (kmv_jaccard(read_versioned(spark, store)).toPandas()
           .sort_values(["stratum_a", "stratum_b"]).reset_index(drop=True))
    x90 = (all_queries()["x90_kmv_source_similarity"].fn(spark, sf_dir)
           .toPandas()
           .sort_values(["stratum_a", "stratum_b"]).reset_index(drop=True))
    assert est.equals(x90)
