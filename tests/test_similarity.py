"""Similarity-family behavior beyond the oracle rows: IVF recall vs the
brute-force ground truth, and candidate-set containment (IVF must rank
by exact cosine — any returned neighbor's cosine equals the brute-force
cosine for that pair)."""

from __future__ import annotations

from data_pipeline_foundations_spark.operators.caching import cache_scope
from data_pipeline_foundations_spark.operators.similarity import (
    cosine_topk, ivf_topk,
)
from data_pipeline_foundations_spark.tables import load


def test_ivf_recall_against_brute_force(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    with cache_scope():
        truth = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(emb, n_queries=10, k=5).collect()}
        got_rows = ivf_topk(emb, n_queries=10, k=5).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    # ANN contract: recall < 1 is by design, but probing 6/16 lists on
    # this corpus must recover a solid majority of the true top-5.
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"IVF recall {recall:.2f} vs brute force"
    # every query returns a full (or list-limited) result with exact ranks
    by_q = {}
    for r in got_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_ivf_cosines_are_exact(spark, sf_dir):
    """IVF approximates the CANDIDATE SET, never the metric: for pairs it
    does return, the cosine must equal the brute-force value exactly."""
    emb = load(spark, sf_dir, "embeddings")
    with cache_scope():
        exact = {(r.query_id, r.neighbor_id): r.cosine
                 for r in cosine_topk(emb, n_queries=10, k=5).collect()}
        ivf = {(r.query_id, r.neighbor_id): r.cosine
               for r in ivf_topk(emb, n_queries=10, k=5).collect()}
    common = set(exact) & set(ivf)
    assert common, "no overlap between IVF and brute force at all"
    for pair in common:
        assert ivf[pair] == exact[pair]


def test_ivfpq_rerank_contract(spark, sf_dir):
    """The refine contract: cosines of returned rows equal the brute-force
    cosine for that pair (re-rank is exact over survivors), ranks are
    dense per query in cosine-descending order, at most k rows per query,
    and every returned neighbor carries a non-negative ADC total."""
    from data_pipeline_foundations_spark.operators.similarity import (
        ivfpq_rerank_topk,
    )
    emb = load(spark, sf_dir, "embeddings")
    with cache_scope():
        exact = {(r.query_id, r.neighbor_id): r.cosine
                 for r in cosine_topk(emb, n_queries=10, k=500).collect()}
        rows = ivfpq_rerank_topk(emb, n_queries=10, k=5).collect()
    assert rows, "IVF-PQ returned nothing"
    by_q = {}
    for r in rows:
        assert r.approx_dist >= 0
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine
        by_q.setdefault(r.query_id, []).append(r)
    for q, qr in by_q.items():
        assert len(qr) <= 5
        qr.sort(key=lambda r: r.rank)
        assert [r.rank for r in qr] == list(range(1, len(qr) + 1))
        cosines = [r.cosine for r in qr]
        assert cosines == sorted(cosines, reverse=True)


def test_semantic_dedup_cluster_invariants(spark, sf_dir):
    """Every vector gets exactly one row; the canonical member IS the
    cluster minimum; cluster sizes add up to the corpus; duplicates only
    pair within one IVF cell (pairs never cross clusters by design)."""
    from data_pipeline_foundations_spark.operators.similarity import (
        semantic_dedup,
    )
    from data_pipeline_foundations_spark.tables import load
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    with cache_scope():
        rows = semantic_dedup(emb).collect()
    assert len(rows) == n
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m.vec_id for m in members)
        assert ids[0] == cid  # cluster labeled by its minimum id
        assert all(m.cluster_size == len(members) for m in members)
        canon = [m for m in members if m.is_canonical == 1]
        assert len(canon) == 1 and canon[0].vec_id == cid


def test_ivfpq_model_round_trips_through_parquet(spark, sf_dir, tmp_path):
    """save_ivfpq_model → load_ivfpq_model gives a model that encodes and
    searches exactly like the in-memory one — the nightly-build artifact
    contract: encode_corpus writes the same (vec_id, cid, codes) rows and
    pq_search_from_codes returns the same neighbors under either."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.similarity import (
        build_ivfpq_model, encode_corpus, load_ivfpq_model,
        pq_search_from_codes, save_ivfpq_model,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    model = build_ivfpq_model(emb)
    p = str(tmp_path / "ivfpq_model")
    save_ivfpq_model(spark, model, p)
    loaded = load_ivfpq_model(spark, p)
    assert loaded["params"] == model["params"]

    def rows(df):
        return sorted((r[0], r[1], tuple(r[2])) for r in df.collect())

    codes_a, codes_b = encode_corpus(emb, model), encode_corpus(emb, loaded)
    assert rows(codes_a) == rows(codes_b)
    queries = emb.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, pq_search_from_codes(codes_a, queries,
                                               model).collect()))
    b = sorted(map(tuple, pq_search_from_codes(codes_b, queries,
                                               loaded).collect()))
    assert a and a == b


def test_stored_codes_search_matches_fused_kernel(spark, sf_dir):
    """encode_corpus + pq_search_from_codes equals pq_topk's fused
    raw-vector kernel exactly — the persisted-codes index (8 ints per
    vector) loses nothing: the argmin happened at encode time with the
    same exact-int arithmetic the fused path runs at query time."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.similarity import (
        build_ivfpq_model, encode_corpus, pq_search_from_codes, pq_topk,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    fused = sorted(map(tuple, pq_topk(emb).collect()))
    model = build_ivfpq_model(emb)
    codes = encode_corpus(emb, model)
    assert codes.columns == ["vec_id", "cid", "codes"]
    stored = sorted(map(tuple, pq_search_from_codes(
        codes, emb.filter(F.col("vec_id") < 10), model).collect()))
    assert fused == stored


def test_pq_search_from_codes_requires_codes_column(spark, sf_dir):
    """ADVICE r5: a codes table missing the 'codes' column raises a
    descriptive ValueError, not a bare KeyError from the schema lookup."""
    import pytest as _pytest

    from data_pipeline_foundations_spark.operators.similarity import (
        pq_search_from_codes,
    )
    bogus_codes = spark.range(4).selectExpr("id AS vec_id", "id AS not_codes")
    queries = spark.range(1).selectExpr("id AS vec_id",
                                        "array(0.0F) AS embedding")
    with _pytest.raises(ValueError, match="codes"):
        pq_search_from_codes(bogus_codes, queries,
                             model={"params": {}, "pq_rows": []}, k=1)


def test_ann_recall_fused_equals_composed(spark, sf_dir):
    """The fused recall evaluation (one kernel stage, shared window
    exchange) is bit-identical to composing cosine_topk + pq_topk."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.similarity import (
        ann_recall, cosine_topk, pq_topk,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    fused = {(r.query_id, r.n_hits, r.recall)
             for r in ann_recall(emb).collect()}
    exact = cosine_topk(emb).select("query_id", "neighbor_id")
    approx = (pq_topk(emb)
              .select("query_id", F.col("neighbor_id").alias("nb"),
                      F.lit(1).alias("hit")))
    composed = {(r.query_id, r.n_hits, r.recall) for r in (
        exact.join(approx,
                   (exact.query_id == approx.query_id)
                   & (exact.neighbor_id == approx.nb), "left")
        .select(exact.query_id, "hit")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
             .cast("long").alias("n_hits"))
        .select("query_id", "n_hits",
                (F.col("n_hits").cast("double") / 5.0).alias("recall"))
    ).collect()}
    assert fused == composed


def test_hierarchical_assignment_invariants(spark, sf_dir):
    """Two-level routing invariants: every vector is assigned exactly
    once, the centroid→group membership is consistent (a cid never
    appears under two gids — the refined membership is a function),
    and the routing is deterministic across runs. Bit-level semantics
    are pinned by x79's oracle twin."""
    from data_pipeline_foundations_spark.operators.similarity import (
        hierarchical_assign,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    out = hierarchical_assign(emb, n_groups=4).collect()
    assert len(out) == emb.count()
    cid_to_gid = {}
    for r in out:
        assert cid_to_gid.setdefault(r.cid, r.gid) == r.gid
    again = hierarchical_assign(emb, n_groups=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_hier_router_exact_when_centroids_separate(spark):
    """The calibration claim pinned: with SEPARATED centroids (four
    orthogonal direction families) the two-level router (a) agrees
    with flat assignment on EVERY vector, and (b) its Lloyd refinement
    repairs a PARTIALLY-wrong init — each init group starts with three
    members of its own family plus one stray from the next family, and
    the refinement moves every stray to its family's group. (A fully
    scattered init — one member of every family per group — leaves all
    init supers degenerate-identical and no one-step refinement can
    recover; that is k-means init sensitivity, not router error.) This
    pins the ivf_assign_hier_udf kernel behind x79's hierarchical_assign:
    the ~57% flat/hier agreement on hash-init centroids is quantizer
    noise; under separation the router is exact."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.vectorized import (
        ivf_assign_hier_udf, ivf_assign_udf,
    )

    dim, scale = 16, 1e6
    rng = np.random.RandomState(7)

    def family(cid: int) -> int:
        # init group is cid % 4; cids 12-15 are the per-group strays
        # whose TRUE family is the next group's
        return cid % 4 if cid < 12 else (cid + 1) % 4

    cents = []
    for cid in range(16):
        fam, sub = family(cid), cid // 4
        v = np.zeros(dim)
        v[fam * 4] = 1000.0          # family direction
        v[fam * 4 + 1 + (sub % 3)] = 120.0 + 10 * sub  # in-family spread
        cv = np.floor(v * scale + 0.5).astype(np.int64)
        cents.append({"cid": cid, "cv": cv.tolist(),
                      "cn2": int((cv * cv).sum())})
    # vectors: jittered copies of each centroid (jitter << family gap)
    rows = []
    for i in range(320):
        cid = i % 16
        base = np.array(cents[cid]["cv"], dtype=np.float64) / scale
        rows.append((i, (base + rng.uniform(-1, 1, dim)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    flat = ivf_assign_udf(cents)
    hier = ivf_assign_hier_udf(cents, 4)
    got = (df.select("vec_id", flat(F.col("embedding")).alias("fcid"),
                     hier(F.col("embedding")).alias("h"))
           .select("vec_id", "fcid", "h.gid", "h.cid").collect())
    assert all(r.cid == r.fcid for r in got), "hier must equal flat here"
    # refinement repaired the strays: every family is ONE group now
    fam_groups = {}
    for r in got:
        assert fam_groups.setdefault(family(r.cid), r.gid) == r.gid
    assert len(set(fam_groups.values())) == 4


def test_lloyd_training_enables_exact_routing(spark):
    """Pins the x80 training kernel (train_ivf_centroids) together with
    x79's two-level router: on a corpus WITH cluster structure (16
    separated direction families, jittered), 2 Lloyd passes move the
    hash-init centroids onto the data and the router then agrees with
    flat assignment on >=95% of vectors (measured: 100% after the first
    pass — on SEPARATED centroids routing is exact; the ~57% agreement
    on hash-init centroids is quantizer noise, not router error). Also
    pins honest k-means behavior: training may drop empty clusters, and
    surviving cids keep their init bucket labels."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from data_pipeline_foundations_spark.operators.vectorized import (
        ivf_assign_hier_udf, ivf_assign_udf,
    )

    dim, k = 64, 16
    rng = np.random.RandomState(11)
    fams = []
    for f in range(k):
        v = np.zeros(dim)
        v[f * 4 % dim] = 1000.0
        v[(f * 4 + 1) % dim] = 150.0 + 10 * f
        fams.append(v)
    rows = [(int(i), (fams[i % k] + rng.uniform(-5, 5, dim)).tolist())
            for i in range(480)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = train_ivf_centroids(emb, k_clusters=k, iters=2)
    assert 2 <= len(cents) <= k
    assert all(set(c) == {"cid", "cv", "cn2"} for c in cents)

    flat = ivf_assign_udf(cents)
    hier = ivf_assign_hier_udf(cents, max(2, int(round(len(cents) ** 0.5))))
    got = (emb.select(flat(F.col("embedding")).alias("fcid"),
                      hier(F.col("embedding"))["cid"].alias("hcid"))
           .collect())
    agree = sum(r.fcid == r.hcid for r in got) / len(got)
    assert agree >= 0.95, f"trained-routing agreement {agree:.3f} < 0.95"


def test_ivf_assign_from_model_reuse_bit_equal(spark, sf_dir):
    """The train-once/assign-many split (VERDICT r10 #4): holding the
    model from ONE train_ivf_centroids call and assigning through
    ivf_assign_from_model is bit-equal to the composed registry surface
    (trained_ivf_assign), repeated assigns from the same model are
    bit-equal to each other, and a NEW batch (filtered subset) assigned
    from the held model matches the full run's rows for those ids —
    i.e. assignment never retrains."""
    from data_pipeline_foundations_spark.operators.similarity import (
        ivf_assign_from_model, train_ivf_centroids, trained_ivf_assign,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    model = train_ivf_centroids(emb, k_clusters=16, iters=2)
    composed = sorted(tuple(r) for r in
                      trained_ivf_assign(emb, k_clusters=16, iters=2)
                      .collect())
    once = sorted(tuple(r) for r in
                  ivf_assign_from_model(emb, model).collect())
    twice = sorted(tuple(r) for r in
                   ivf_assign_from_model(emb, model).collect())
    assert composed == once == twice
    # assign-many on a later "ingest batch": same model, subset corpus
    batch = emb.filter("vec_id % 3 = 0")
    got = sorted(tuple(r) for r in
                 ivf_assign_from_model(batch, model).collect())
    want = sorted(t for t in once if t[0] % 3 == 0)
    assert got == want


def test_hard_negatives_exclude_query_label_and_rank_correctly(spark, sf_dir):
    """x86: every mined negative carries a label different from its
    query's, ranks are dense 1..k, and cosine is non-increasing within a
    query (ties broken by id upstream)."""
    from data_pipeline_foundations_spark.operators.similarity import (
        hard_negatives,
    )
    from data_pipeline_foundations_spark.tables import load

    out = (hard_negatives(load(spark, sf_dir, "embeddings"))
           .toPandas().sort_values(["query_id", "rank"]))
    assert (out["negative_label"] != out["query_label"]).all()
    for qid, grp in out.groupby("query_id"):
        assert grp["rank"].tolist() == list(range(1, len(grp) + 1))
        cos = grp["cosine"].tolist()
        assert all(a >= b for a, b in zip(cos, cos[1:]))
    # the hard tier is HARDER than the uniform draw: its mean cosine is
    # at least that of x58's hash-drawn negatives for the same queries
    neg = (__import__('data_pipeline_foundations_spark.registry',
                      fromlist=['all_queries'])
           .all_queries()["x58_negative_pairs"].fn(spark, sf_dir)
           .toPandas())
    qids = set(out["query_id"])
    uni = neg[neg["anchor_id"].isin(qids)]
    if len(uni):
        assert out["cosine"].mean() >= uni["cosine"].mean() - 1e-9


# ---------------------------------------------------------------------------
# x91 — label centroid map pins
# ---------------------------------------------------------------------------


def test_label_centroid_map_shape_and_bounds(spark, sf_dir):
    """C(|labels|, 2) pairs, label_a < label_b, cosine in [-1, 1], and
    the per-label counts sum (over each label's |labels|-1 appearances)
    back to (|labels|-1) * corpus size."""
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    out = (all_queries()["x91_label_centroid_map"].fn(spark, sf_dir)
           .toPandas())
    emb = load(spark, sf_dir, "embeddings").toPandas()
    nl = emb["label"].nunique()
    assert len(out) == nl * (nl - 1) // 2
    assert (out["label_a"] < out["label_b"]).all()
    assert out["cosine"].between(-1.0, 1.0).all()
    assert (int(out["n_a"].sum()) + int(out["n_b"].sum())
            == (nl - 1) * len(emb))


def test_label_centroid_is_floor_integer_mean(spark, sf_dir):
    """The centroid the operator builds for one label equals the
    hand-computed floor(sum of 1e-6-grid ints / count) per dimension —
    pinned by rebuilding pair cosines from numpy centroids."""
    import math

    import numpy as np

    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").toPandas()
    sv = np.array([[math.floor(float(x) * 1e6 + 0.5) for x in v]
                   for v in emb["embedding"]], dtype=np.int64)
    cents = {}
    for lab, idx in emb.groupby("label").groups.items():
        s = sv[list(idx)].sum(axis=0)
        cnt = len(idx)
        cents[lab] = np.array([math.floor(x / cnt) for x in s],
                              dtype=np.int64)
    out = (all_queries()["x91_label_centroid_map"].fn(spark, sf_dir)
           .toPandas())
    for _, r in out.iterrows():
        a, b = cents[r["label_a"]], cents[r["label_b"]]
        d = float(np.dot(a, b))
        expect = d / (math.sqrt(float(np.dot(a, a)))
                      * math.sqrt(float(np.dot(b, b))))
        assert r["cosine"] == expect


def test_hard_negatives_ann_full_probe_equals_brute(spark, sf_dir):
    """x93's exactness pin: with nprobe = k_clusters every inverted
    list is probed, so the ANN tier's candidate pool is the whole
    corpus and its output must equal the brute tier's frame EXACTLY —
    same pairs, same IEEE cosine doubles, same ranks. Any divergence
    would mean the routing changes scores (it may only ever drop
    candidates)."""
    from data_pipeline_foundations_spark.operators.similarity import (
        hard_negatives, hard_negatives_ann,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    key = ["query_id", "rank"]
    full = (hard_negatives_ann(emb, k_clusters=16, nprobe=16).toPandas()
            .sort_values(key).reset_index(drop=True))
    brute = (hard_negatives(emb).toPandas()
             .sort_values(key).reset_index(drop=True))
    assert len(full) > 0
    assert full.astype({"query_label": "int64",
                        "negative_label": "int64"}).equals(
        brute.astype({"query_label": "int64", "negative_label": "int64"}))


def test_hard_negative_ann_recall_shape_and_subset(spark, sf_dir):
    """x94: n_true == k for every query, recall in [0, 1], and the ANN
    tier's pairs are a SUBSET of the label-mismatch universe with dense
    ranks — plus recall == 1.0 when every list is probed (consistency
    with the full-probe equality pin)."""
    from data_pipeline_foundations_spark.operators.similarity import (
        hard_negative_ann_recall, hard_negatives_ann,
    )
    from data_pipeline_foundations_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    out = hard_negative_ann_recall(emb).toPandas()
    assert (out["n_true"] == 5).all()
    assert out["recall"].between(0.0, 1.0).all()
    ann = (hard_negatives_ann(emb).toPandas()
           .sort_values(["query_id", "rank"]))
    assert (ann["negative_label"] != ann["query_label"]).all()
    for _, grp in ann.groupby("query_id"):
        assert grp["rank"].tolist() == list(range(1, len(grp) + 1))
    full = hard_negative_ann_recall(emb, nprobe=16).toPandas()
    assert (full["recall"] == 1.0).all()


def test_hard_negatives_zero_norm_dropped_both_forms(spark, tmp_path):
    """r13 (ADVICE): zero-norm vectors make cosine NaN, and NaN ranks
    differently across engines (numpy lexsort puts it last) — so
    hard_negatives and its oracle both drop zero-norm rows, query- and
    corpus-side, and agree exactly on data that contains them."""
    import duckdb
    import pandas as pd

    from data_pipeline_foundations_spark.operators.similarity import (
        hard_negatives, oracle_hard_negatives_sql,
    )

    rows = []
    for i in range(20):
        if i in (3, 15):               # one zero-norm query, one corpus
            vec = [0.0] * 8
        else:
            vec = [((i * 7 + j * 13) % 11 - 5) / 10.0 for j in range(8)]
        rows.append((i, i % 3, vec))
    path = str(tmp_path / "embeddings.parquet")
    (pd.DataFrame(rows, columns=["vec_id", "label", "embedding"])
     .astype({"label": "int32"}).to_parquet(path, index=False))
    key = ["query_id", "rank"]
    types = {"query_label": "int64", "negative_label": "int64",
             "rank": "int64"}
    a = (hard_negatives(spark.read.parquet(path), k=4).toPandas()
         .sort_values(key).reset_index(drop=True).astype(types))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    o = (con.execute(oracle_hard_negatives_sql(k=4)).fetchdf()
         .sort_values(key).reset_index(drop=True).astype(types))
    con.close()
    assert len(a) > 0
    assert 3 not in set(a["query_id"])          # zero-norm query dropped
    assert 15 not in set(a["negative_id"])      # zero-norm corpus dropped
    assert a["cosine"].notna().all()
    assert a.equals(o[a.columns])


def test_ivf_builders_accept_any_vector_column_name(spark, sf_dir):
    """The IVF and IVF-PQ model builders quote the caller's vector column
    in their one-parse sums expression: a name with a space or a dot
    gives the same rows and the same model as the default name."""
    from data_pipeline_foundations_spark.operators.similarity import (
        build_ivfpq_model,
    )

    emb = load(spark, sf_dir, "embeddings")
    with cache_scope():
        want_rows = sorted(map(tuple, ivf_topk(emb).collect()))
        want_model = build_ivfpq_model(emb)
        for name in ("emb v", "emb.v"):
            renamed = emb.withColumnRenamed("embedding", name)
            got = sorted(map(tuple,
                             ivf_topk(renamed, vec_col=name).collect()))
            assert got == want_rows, name
            assert build_ivfpq_model(renamed, vec_col=name) == want_model, \
                name
