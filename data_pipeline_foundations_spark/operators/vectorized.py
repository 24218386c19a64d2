"""Arrow-vectorized kernels for the similarity family.

Each kernel is the ONE implementation of its operator step, and it is
NUMERICALLY IDENTICAL to the DuckDB oracle's SQL formulation of the same
step. That identity is not a tolerance claim — it is exact, because the
quantized-embedding contract makes every reduction an int64 sum:

  - embeddings are scaled once to int64 (``floor(x * 1e6 + 0.5)``),
  - dot products / norms / PQ distances are integer sums (associative —
    any evaluation order, including numpy's, gives the same value),
  - the only floats are DERIVED at output from those exact ints via
    individually-rounded IEEE ops (``cast``, ``sqrt``, ``*``, ``/``) that
    every engine (Spark JVM, numpy/libm, DuckDB) rounds identically.

So a registry query runs the vectorized path and still hash-matches the
DuckDB oracle bit-for-bit; tests/test_oracle_parity.py asserts it for every
registered query that runs a kernel (x03, x08, x12, x20 and x36 among
them).

The kernel contract — raw input only: every kernel that reads an
embedding column reads the RAW float vector (array<float>) and puts it on
the grid itself, through :func:`quantize` on the one grid constant
:data:`EMB_SCALE`. No kernel accepts a pre-quantized vector or a scale.
The driver-side model artifacts a kernel closes over (centroids,
codebooks, query vectors) are already exact ints on the same grid
(similarity.int_vec in the model collect), and the shared tables they
become are built once each: :func:`_ivf_table`, :func:`_pq_table`,
:func:`_adc_tables` and :func:`_probe_mask`.

Why vectorize at all: HOF lambdas evaluate interpreted, one element at a
time (and are excluded from codegen subexpression elimination). A 16-bit
SRP signature over dim=64 is ~2k interpreted evals per row; a PQ code
assignment is ~2k more; a 64-dim cosine verification is ~128 per
candidate pair — these dominated every weak ANN query in VERDICT r3.
numpy does the same arithmetic as packed int64 matrix ops at ~100x the
throughput, and the Arrow exchange moves each vector ONCE (the kernels
are applied per-row or per-bucket, never per-pair).

Shipping to the workers: the module registers itself with cloudpickle's
pickle-by-value when it is imported, so a kernel's pickled closure
carries the module-level helpers it calls (quantize, the table builders,
the zero-norm check) as code. A Python worker that cannot import this
package — a caller's own vanilla session started from any cwd, with no
PYTHONPATH — runs every kernel all the same. The module imports nothing
from the package for the same reason.

Scale notes: pandas_udf kernels stream Arrow batches (bounded memory);
the per-bucket pair kernel materializes one LSH bucket per group — bucket
size is governed by the banding parameters, the same contract a banded
self-join relies on for its join fan-out.
"""

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import functions as F

EMB_SCALE = 1_000_000.0  # quantization grid: 1e-6 — shared by all tiers


def quantize(vectors: pd.Series) -> np.ndarray:
    """Raw float vectors -> (n, dim) int64 on the 1e-6 grid,
    ``floor(x * EMB_SCALE + 0.5)`` in float64 — the one numpy
    quantization site, the same IEEE ops as similarity.int_vec and the
    oracle's list_transform."""
    M = np.vstack(vectors.to_numpy()).astype(np.float64)
    return np.floor(M * EMB_SCALE + 0.5).astype(np.int64)


def _sqrt_norms(S: np.ndarray) -> np.ndarray:
    """sqrt of each row's exact int64 squared norm — one IEEE rounding."""
    return np.sqrt(np.einsum("nd,nd->n", S, S).astype(np.float64))


def _require_nonzero_norms(rt: np.ndarray, what: str) -> None:
    """Cosine precondition: every norm strictly positive.

    A zero-norm vector or centroid makes the cosine 0/0 = NaN, and
    np.argmax over NaNs silently picks the first index while the DuckDB
    oracle's NULL/NaN ordering differs — the bit-for-bit contract breaks
    without any error. Degenerate inputs therefore fail LOUDLY here
    (ADVICE r9): the int-grid quantization ``floor(x*1e6 + 0.5)`` maps
    only the near-zero ball (< 5e-7 per element) to the zero vector, so
    any real embedding corpus satisfies this for free.
    """
    if rt.size and not np.all(rt > 0):
        raise ValueError(
            f"zero-norm {what}: cosine undefined (0/0=NaN) and NaN "
            f"ordering diverges from the DuckDB oracle — reject "
            f"degenerate inputs upstream or drop all-zero vectors before "
            f"assignment")


def _input_norms(SV: np.ndarray) -> np.ndarray:
    """Row sqrt norms of a batch an IVF kernel routes; zero-norm raises."""
    rt = _sqrt_norms(SV)
    _require_nonzero_norms(rt, "input vector")
    return rt


def _ivf_table(cents: list) -> tuple:
    """The collected IVF centroid table [{cid, cv, cn2}] as every IVF
    kernel reads it: (cids, C, crt) with cids in DESCENDING order, the
    int64 centroid matrix and its sqrt norms. np.argmax keeps the first
    maximum, so exact cosine ties break to the LARGEST cid — the
    oracle's array_max over (cos, cid). A zero-norm centroid raises."""
    rows = sorted(((int(c["cid"]), np.asarray(c["cv"], dtype=np.int64),
                    int(c["cn2"])) for c in cents), reverse=True)
    cids = np.array([cid for cid, _, _ in rows], dtype=np.int64)
    C = np.vstack([cv for _, cv, _ in rows])
    crt = np.sqrt(np.array([cn2 for _, _, cn2 in rows], dtype=np.float64))
    _require_nonzero_norms(crt, "centroid")
    return cids, C, crt


def _nearest(SV: np.ndarray, rt: np.ndarray, ids: np.ndarray,
             C: np.ndarray, crt: np.ndarray) -> np.ndarray:
    """ids of each row's max-cosine centroid: derived-float cosine (exact
    int Gram / product of two sqrts, the SQL expression's three IEEE
    roundings), first maximum in ``ids`` order."""
    G = (SV @ C.T).astype(np.float64)      # exact: |idot| < 2^53
    return ids[np.argmax(G / (rt[:, None] * crt[None, :]), axis=1)]


def _probe_mask(probe_sets: list, cids: np.ndarray) -> np.ndarray:
    """(nq, max_cid + 1) bool: [q, cid] is set when query q probes list
    cid — indexed by a batch's assigned cids, it is the (n, nq) probe
    membership in one gather."""
    max_cid = int(cids.max()) if len(cids) else 0
    probe_bool = np.zeros((len(probe_sets), max_cid + 1), dtype=bool)
    for qi, probed in enumerate(probe_sets):
        for cid in probed:
            probe_bool[qi, int(cid)] = True
    return probe_bool


def _pq_table(cents: list) -> tuple:
    """The collected PQ codebook [{s, cid, cvec}] as every PQ kernel
    reads it: ({s: cids}, {s: C}) per subspace, cids ASCENDING with the
    matching int64 centroid matrix. np.argmin keeps the first minimum, so
    distance ties break to the SMALLEST cid — the oracle's (d ASC,
    cid ASC) row_number."""
    by_s = {}
    for s, cid, cvec in sorted((c["s"], c["cid"], c["cvec"]) for c in cents):
        by_s.setdefault(int(s), []).append(
            (int(cid), np.asarray(cvec, dtype=np.int64)))
    cid_arrs = {s: np.array([cid for cid, _ in lst], dtype=np.int64)
                for s, lst in by_s.items()}
    cent_mats = {s: np.vstack([v for _, v in lst]) for s, lst in by_s.items()}
    return cid_arrs, cent_mats


def _adc_tables(cent_mats: dict, qsvs: list, m: int, block: int) -> tuple:
    """(Q, qtab): the (nq, dim) int64 query matrix and, per subspace s,
    qtab[s] (nq, ks_s) — query q's exact squared distance to centroid j
    of s. KB-sized; built once on the driver, closed over by the
    kernel."""
    Q = (np.asarray(qsvs, dtype=np.int64) if qsvs
         else np.zeros((0, m * block), dtype=np.int64))
    qtab = {}
    for s, C in cent_mats.items():
        qd = Q[:, s * block:(s + 1) * block][:, None, :] - C[None, :, :]
        qtab[s] = np.einsum("qkb,qkb->qk", qd, qd)
    return Q, qtab


def _pq_positions(SV: np.ndarray, cent_mats: dict, m: int,
                  block: int) -> np.ndarray:
    """(n, m) codebook positions: per subspace, each row's nearest
    centroid by exact int64 squared distance (first minimum = smallest
    cid)."""
    pos = np.empty((SV.shape[0], m), dtype=np.int64)
    for s in range(m):
        C = cent_mats[s]                                  # (ks_s, block)
        diff = SV[:, s * block:(s + 1) * block][:, None, :] - C[None, :, :]
        pos[:, s] = np.argmin(np.einsum("nkb,nkb->nk", diff, diff), axis=1)
    return pos


def _adc_totals(qtab: dict, pos: np.ndarray) -> np.ndarray:
    """(n, nq) ADC totals: Σ_s qtab[s][q, pos[:, s]] — exact int64."""
    out = np.zeros((pos.shape[0], qtab[0].shape[0]), dtype=np.int64)
    for s in range(pos.shape[1]):
        out += qtab[s][:, pos[:, s]].T
    return out


def srp_sig_udf(signs):
    """pandas_udf: RAW embedding array<float> -> 64-bit SRP signature
    (long).

    ``signs`` is the (bits x dim) ±1 hyperplane matrix. Projection of the
    quantized integer vector onto each hyperplane is an exact int64 sum;
    bit b is set when the projection is > 0 — identical to the DuckDB
    oracle's per-bit integer folds.
    """
    sgn = np.asarray(signs, dtype=np.int64)
    bits = sgn.shape[0]
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))

    @F.pandas_udf("long")
    def sig(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int64")
        proj = quantize(col) @ sgn.T           # exact int64
        return pd.Series((proj > 0).astype(np.int64) @ weights)

    return sig


def bucket_pair_cosines(bands_df, id_col: str, threshold: float):
    """Per-LSH-bucket pairwise quantized cosines via one int64 matmul.

    ``bands_df``: (band_id, band_key, id, sv) — one row per (vector,
    band), ``sv`` the RAW float embedding; quantization and norms happen
    inside the kernel, so the scan ships raw floats and pays no
    interpreted int_vec/idot HOFs. Returns (vec_a, vec_b, cosine) for
    every within-bucket pair with cosine >= threshold, a < b, NOT
    deduped across bands (caller applies .distinct(); cosines are
    bit-identical across bands so the dedup is exact).

    The Gram matrix S @ S.T reproduces the DuckDB oracle's idot fold exactly
    (integer sums); cosine = idot / (sqrt(na2) * sqrt(nb2)) with the same
    three IEEE roundings as the column expression.
    """
    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_a": pd.Series([], dtype="int64"),
                                 "vec_b": pd.Series([], dtype="int64"),
                                 "cosine": pd.Series([], dtype="float64")})
        ids = pdf[id_col].to_numpy()
        S = quantize(pdf["sv"])
        rt = _sqrt_norms(S)
        G = (S @ S.T).astype(np.float64)       # exact: |idot| < 2^53
        cos = G / (rt[:, None] * rt[None, :])
        iu = np.triu_indices(n, 1)
        a, b, cv = ids[iu[0]], ids[iu[1]], cos[iu]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        m = cv >= threshold
        return pd.DataFrame({"vec_a": lo[m], "vec_b": hi[m], "cosine": cv[m]})

    return (bands_df.groupBy("band_id", "band_key")
            .applyInPandas(per_bucket,
                           "vec_a long, vec_b long, cosine double"))


def pq_codes_udf(cents: list, m: int, block: int):
    """pandas_udf: RAW embedding -> PQ code per subspace (array<int>,
    position s holds the chosen cid).

    ``cents`` is the collected codebook [(s, cid, cvec)] — a KB-sized
    broadcast-by-closure. Distances are exact int64 sums of squared
    diffs; argmin ties break to the SMALLEST cid, matching the DuckDB
    oracle's array_min over (d, cid) structs (:func:`_pq_table`).
    """
    cid_arrs, cent_mats = _pq_table(cents)

    @F.pandas_udf("array<int>")
    def codes(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        pos = _pq_positions(quantize(col), cent_mats, m, block)
        out = np.empty(pos.shape, dtype=np.int32)
        for s in range(m):
            out[:, s] = cid_arrs[s][pos[:, s]]
        return pd.Series(list(out))

    return codes


def pq_adc_totals_udf(cents: list, qsvs: list, m: int, block: int):
    """pandas_udf: RAW embedding -> per-query ADC distance totals
    (array<long>, position qi = Σ_s qtab[qi][s][code_s]).

    This is the classic ADC structure fused into one map stage: the
    kernel assigns this row's PQ codes (exact int64 argmin, ties to the
    smallest cid — identical to the DuckDB oracle) and immediately sums each
    query's precomputed distance-to-centroid table at those codes. The
    (vec, s, cid) code rows never exist as exchanged data — the only
    shuffle left downstream is the per-query top-k.

    ``qsvs`` (the n_queries quantized query vectors) and ``cents`` are
    KB-sized driver values baked into the closure; all entries are exact
    ints so the totals are bit-identical to the join+sum formulation.
    """
    _, cent_mats = _pq_table(cents)
    _, qtab = _adc_tables(cent_mats, qsvs, m, block)

    @F.pandas_udf("array<long>")
    def totals(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        pos = _pq_positions(quantize(col), cent_mats, m, block)
        return pd.Series(list(_adc_totals(qtab, pos)))

    return totals


def recall_totals_udf(cents: list, qsvs: list, m: int, block: int):
    """pandas_udf for the ANN-recall evaluation: RAW embedding
    (array<float>) -> length-2·nq array<double> where positions
    [0, nq) hold the per-query exact PQ-ADC totals (int64 values —
    exactly representable, bounded far below 2^53) and positions
    [nq, 2·nq) the per-query exact quantized cosines.

    ONE kernel produces both sides of a recall@k evaluation — the
    approximate index ranking (pq_adc_totals_udf's arithmetic, exact
    ints) and the brute-force ground truth (ivf_cos_udf's derived-float
    cosine contract: exact int Gram / product of two sqrts) — so each
    corpus vector crosses the Arrow boundary ONCE and the downstream
    plan needs a single exchange (the per-query window) to rank both.
    Every value is bit-identical to the two-operator composition the
    oracle runs.
    """
    _, cent_mats = _pq_table(cents)
    Q, qtab = _adc_tables(cent_mats, qsvs, m, block)
    qrt = _sqrt_norms(Q)

    @F.pandas_udf("array<double>")
    def totals(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        SV = quantize(col)
        ap = _adc_totals(qtab, _pq_positions(SV, cent_mats, m, block))
        rt = _sqrt_norms(SV)
        Gq = (SV @ Q.T).astype(np.float64)    # exact: |idot| < 2^53
        ex = Gq / (rt[:, None] * qrt[None, :])
        # the ADC totals ride the double output column; their int64
        # values must stay exactly representable or the bit-identity
        # contract with pq_topk's pure-long path silently breaks
        if ap.size and int(ap.max()) > (1 << 53):
            raise ValueError(
                "recall_totals_udf: ADC total exceeds 2^53 and cannot "
                "round-trip through the double output exactly — "
                "embeddings are far outside the expected unit-norm "
                "scale; use the composed cosine_topk+pq_topk paths")
        return pd.Series(list(np.concatenate(
            [ap.astype(np.float64), ex], axis=1)))

    return totals


def ivfpq_totals_udf(ivf_cents: list, probe_sets: list, pq_cents: list,
                     qsvs: list, m: int, block: int):
    """pandas_udf: RAW embedding -> per-query ADC totals restricted to
    IVF-probed lists (array<long>; position qi holds the exact int64 ADC
    total when this row's IVF list is in query qi's probe set, else -1).

    The whole IVF-PQ search side fused into ONE map stage: the kernel
    assigns the row's IVF list (cosine argmax over ``ivf_cents`` — exact
    ties to the LARGEST cid, matching array_max over (cos, cid)), its PQ
    codes (int64 argmin over ``pq_cents`` — ties to the smallest cid),
    and sums each probing query's precomputed distance table at those
    codes. ADC totals are >= 0, so -1 is a safe "not probed" sentinel
    for the downstream posexplode + filter. All model inputs are
    KB-sized driver values (closure-shipped broadcast equivalents); all
    arithmetic is exact int64 / derived-float, bit-identical to the SQL
    joins the DuckDB oracle runs.
    """
    icids, IC, icrt = _ivf_table(ivf_cents)
    probes = _probe_mask(probe_sets, icids)
    _, cent_mats = _pq_table(pq_cents)
    _, qtab = _adc_tables(cent_mats, qsvs, m, block)

    @F.pandas_udf("array<long>")
    def totals(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        SV = quantize(col)
        cid = _nearest(SV, _input_norms(SV), icids, IC, icrt)
        tot = _adc_totals(qtab, _pq_positions(SV, cent_mats, m, block))
        probed = probes[:, cid].T              # (n, nq)
        return pd.Series(list(np.where(probed, tot, np.int64(-1))))

    return totals


def minhash_sig_udf(family: list, n: int, hash_p: int, shingle_c: int):
    """pandas_udf: raw text -> k-member MinHash signature (array<long>,
    null when the document has fewer than ``n`` tokens).

    NUMERICALLY IDENTICAL to the DuckDB oracle's MinHash CTEs
    (dedup._oracle_minhash_ctes: token md5 → rolling-polynomial shingles
    → k universal-hash minima), one kernel call per document instead of
    ~k·T interpreted lambda evals. Exactness: the token hash is
    hashlib.md5 — bit-identical digests to JVM/DuckDB md5 — parsed
    exactly like md5_long (int(hexdigest[:15], 16), 60 bits) then
    reduced mod ``hash_p``; all downstream arithmetic is int64 modular
    math on values < 2^62, so numpy, Spark HOFs, and DuckDB produce the
    same integers. Token hashes are memoized per batch (documents share
    most tokens), which is where the kernel beats a JVM HOF pipeline:
    the md5+conv+decimal expression re-hashes every occurrence.
    """
    import hashlib

    fam_a = np.array([a for a, _ in family], dtype=np.int64)
    fam_b = np.array([b for _, b in family], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sig(col: pd.Series) -> pd.Series:
        memo: dict = {}

        def th_of(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode()).hexdigest()[:15],
                        16) % hash_p
                memo[tok] = v
            return v

        out = []
        for t in col:
            toks = t.split(" ")
            T = len(toks)
            if T < n:
                out.append(None)
                continue
            th = np.fromiter((th_of(tok) for tok in toks),
                             dtype=np.int64, count=T)
            w = T - n + 1
            acc = th[:w].copy()
            for j in range(1, n):
                acc = (acc * shingle_c + th[j:j + w]) % hash_p
            mh = ((fam_a[:, None] * acc[None, :] + fam_b[:, None])
                  % hash_p).min(axis=1)
            out.append(mh.tolist())
        return pd.Series(out)

    return sig


def ivf_cos_udf(cents: list, probe_sets: list, qsvs: list):
    """pandas_udf: RAW embedding (array<float>) -> per-query exact
    cosines restricted to IVF-probed lists (array<double>; position qi
    holds the derived-float cosine when this row's IVF list is in query
    qi's probe set, else -9.0 — cosines live in [-1, 1], so the sentinel
    is filter-safe).

    The whole IVF-flat search side fused into ONE map stage (the
    ivfpq_totals_udf shape with exact cosines instead of ADC totals):
    assign the row's list (argmax over the same derived-float centroid
    cosines as the DuckDB oracle, exact ties to the LARGEST cid), check probe
    membership, and score against every probing query's vector — one
    int64 matmul per batch, each corpus vector moves once, and the only
    shuffle left downstream is the per-query top-k window. Cosine is the
    derived-float contract (exact int Gram / product of two sqrts — the
    same three IEEE roundings as the HOF fold), so the output is
    bit-identical to the assign→probe-join→score formulation.
    """
    icids, IC, icrt = _ivf_table(cents)
    probes = _probe_mask(probe_sets, icids)
    Q = (np.asarray(qsvs, dtype=np.int64) if qsvs
         else np.zeros((0, IC.shape[1]), dtype=np.int64))
    qrt = _sqrt_norms(Q)
    _require_nonzero_norms(qrt, "query vector")

    @F.pandas_udf("array<double>")
    def cosines(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        SV = quantize(col)
        rt = _input_norms(SV)
        cid = _nearest(SV, rt, icids, IC, icrt)   # this row's IVF list
        Gq = (SV @ Q.T).astype(np.float64)     # (n, nq) exact int Gram
        qcos = Gq / (rt[:, None] * qrt[None, :])
        probed = probes[:, cid].T              # (n, nq)
        return pd.Series(list(np.where(probed, qcos, -9.0)))

    return cosines


def ivf_assign_udf(cents: list):
    """pandas_udf: RAW embedding -> nearest-centroid cid (long).

    ``cents`` is the collected [(cid, cv, cn2)] centroid table. Cosines
    are the derived-float contract (exact int Gram row / product of two
    sqrt floats — the same three IEEE roundings as the SQL expression),
    so even near-ties resolve identically; exact ties break to the
    LARGEST cid, matching array_max over (cos, cid) structs
    (:func:`_ivf_table`).
    """
    cids, C, crt = _ivf_table(cents)

    @F.pandas_udf("long")
    def assign(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int64")
        SV = quantize(col)
        return pd.Series(_nearest(SV, _input_norms(SV), cids, C, crt))

    return assign


def ivf_assign_hier_udf(cents: list, n_groups: int):
    """pandas_udf: RAW embedding -> (gid, cid) via TWO-LEVEL routing —
    the O(n·(√k + k/√k)·d) answer to flat assignment's O(n·k·d), which
    becomes the dominant super-linear term once the cluster count
    scales with the corpus (SCALING.md round-9 part 3 #3: constant
    occupancy ⇒ k ∝ n).

    Level 1: super groups are built on the CENTROID table exactly the
    way the base quantizer builds centroids on vectors — init partition
    by ``cid % n_groups``, integer-mean super-centroid (floor(int-sum /
    count), the SAME two IEEE casts), then ONE Lloyd refinement: every
    centroid re-assigns to its max-cosine super (ties → largest gid)
    and super-centroids recompute as the integer mean of their refined
    members (a group left empty disappears) — the proximity grouping a
    real two-level quantizer has. Honest calibration: on THIS engine's
    hash-init centroids the refinement is often a no-op and flat/hier
    agreement reads ~57% (k=16, g=4) — hash-partition centroids are
    near-orthogonal noise directions (measured median pairwise cosine
    0.002), so level-1 routing is bounded by quantizer separation, not
    by the router; with separated (trained) centroids the grouping and
    routing sharpen accordingly, and dedup/probing correctness never
    depended on centroid quality (clusters only bound the pair space).
    A vector routes
    to its max-cosine refined super, then exact argmax over that
    group's member centroids only (ties → largest cid). Routing is
    approximate exactly the way IVF probing is and deterministic:
    every cosine is the derived-float contract over exact ints, so the
    DuckDB oracle reproduces the whole construction bit-for-bit.

    Returns a struct<gid: long, cid: long> column."""
    cids, C, crt = _ivf_table(cents)

    def _super_means(groups: np.ndarray) -> tuple:
        # descending gid, integer mean of each group's member centroids
        g_ids = np.unique(groups)[::-1]
        gv = np.vstack([
            np.floor(C[groups == g].sum(axis=0).astype(np.float64)
                     / float(np.count_nonzero(groups == g))).astype(np.int64)
            for g in g_ids])
        grt = _sqrt_norms(gv)
        _require_nonzero_norms(grt, "super-centroid (integer mean)")
        return g_ids, gv, grt

    # init: hash-arbitrary partition of centroid ids, then ONE
    # refinement: centroids re-assign to their max-cosine init super
    gids0, GV0, grt0 = _super_means(cids % n_groups)
    refined = _nearest(C, crt, gids0, GV0, grt0)
    gids, GV, grt = _super_means(refined)
    # per refined group: member cid/centroid/norm arrays, descending cid
    mem_c = {int(g): (cids[refined == g], C[refined == g], crt[refined == g])
             for g in gids}

    @F.pandas_udf("struct<gid: long, cid: long>")
    def assign(col: pd.Series) -> pd.DataFrame:
        if len(col) == 0:
            return pd.DataFrame({"gid": pd.Series([], dtype="int64"),
                                 "cid": pd.Series([], dtype="int64")})
        SV = quantize(col)
        rt = _input_norms(SV)
        gsel = _nearest(SV, rt, gids, GV, grt)
        cid_out = np.empty(len(SV), dtype=np.int64)
        for g in np.unique(gsel):
            mask = gsel == g
            cid_out[mask] = _nearest(SV[mask], rt[mask], *mem_c[int(g)])
        return pd.DataFrame({"gid": gsel, "cid": cid_out})

    return assign


def query_topk_udf(cand_df, qvecs: dict, k: int):
    """Per-query candidate scoring + top-k in one kernel.

    ``cand_df``: (query_id, neighbor_id, sv, approx_dist) candidate rows,
    ``sv`` the RAW float embedding, grouped by query_id; ``qvecs``:
    {query_id: (qsv list, qn2)} driver-side quantized query vectors (KBs,
    closure-shipped). Emits (query_id, neighbor_id, rank, cosine,
    approx_dist) for the k best candidates per query — cosine is the
    derived-float contract (exact int Gram / product of sqrts, same
    roundings as the SQL expression), ordering cosine DESC then
    neighbor_id ASC, so the output is bit-identical to the oracle's
    join + fold + window form. ``approx_dist`` (the ADC total that
    selected each candidate) rides through unchanged, so the survivor
    table is read once.
    """
    qnp = {int(q): (np.asarray(sv, dtype=np.int64), int(n2))
           for q, (sv, n2) in qvecs.items()}
    out_cols = ["query_id", "neighbor_id", "rank", "cosine", "approx_dist"]

    def per_query(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        qv, qn2 = qnp[qid]
        if len(pdf) == 0:
            return pd.DataFrame({c: [] for c in out_cols})
        S = quantize(pdf["sv"])
        G = (S @ qv).astype(np.float64)        # exact: |idot| < 2^53
        cos = G / (_sqrt_norms(S) * np.sqrt(float(qn2)))
        ids = pdf["neighbor_id"].to_numpy()
        order = np.lexsort((ids, -cos))[:k]
        return pd.DataFrame({
            "query_id": np.full(len(order), qid, dtype=np.int64),
            "neighbor_id": ids[order],
            "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            "cosine": cos[order],
            "approx_dist": pdf["approx_dist"].to_numpy()[order],
        })

    return cand_df.groupBy("query_id").applyInPandas(
        per_query, "query_id long, neighbor_id long, rank int, "
                   "cosine double, approx_dist double")


def hard_negative_scorer(q_rows: list, k: int, id_col: str, vec_col: str,
                         label_col: str):
    """mapInPandas scorer for the exact hard-negative tier: RAW corpus
    batches of (id, label, embedding) -> per-batch top-``k`` wrong-label
    survivors (query_id, query_label, negative_id, negative_label,
    cosine) for every query in ``q_rows`` [(id, label, quantized qv)].

    Each Arrow batch becomes ONE int64 matmul against the query matrix —
    the oracle's exact quantized-int dots and IEEE cosine (d / (qrt·rt)).
    Zero-norm corpus rows are DROPPED (the oracle's ``n2 > 0`` filter):
    cosine is undefined for them, and numpy lexsort (NaN last) and
    DuckDB's window ordering would rank NaN cosines differently. The
    per-batch top-k under the registered total order (cosine desc, id
    asc) keeps the global top-k by pigeonhole; the caller's window
    ranks the merged survivors."""
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_labels = np.array([r[1] for r in q_rows])
    qm = np.array([r[2] for r in q_rows], dtype=np.int64)         # (nq, d)
    qrt = _sqrt_norms(qm)                                         # (nq,)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = quantize(pdf[vec_col])                           # (n, d)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            labels = pdf[label_col].to_numpy()
            rt = _sqrt_norms(vm)
            nz = rt > 0.0          # zero-norm drop — mirrors n2 > 0
            if not nz.all():
                vm, ids, labels, rt = vm[nz], ids[nz], labels[nz], rt[nz]
                if len(ids) == 0:
                    continue
            dots = vm @ qm.T                                      # (n, nq) exact
            cos = dots / (qrt[None, :] * rt[:, None])
            parts = []
            for j in range(len(q_ids)):
                m = labels != q_labels[j]
                if not m.any():
                    continue
                cj, ij, lj = cos[m, j], ids[m], labels[m]
                order = np.lexsort((ij, -cj))[:k]
                parts.append(pd.DataFrame({
                    "query_id": q_ids[j],
                    "query_label": np.int32(q_labels[j]),
                    "negative_id": ij[order],
                    "negative_label": lj[order].astype(np.int32),
                    "cosine": cj[order]}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return score


def pq_totals_from_codes_udf(cents: list, qsvs: list, m: int, block: int):
    """pandas_udf: STORED PQ code array (array<int>, position s = cid) ->
    per-query ADC distance totals (array<long>) — the search half of the
    persisted-codes index. Identical tables and arithmetic to
    pq_adc_totals_udf, but the argmin already happened at encode time,
    so the scan reads m ints per vector and never touches raw
    embeddings; cid -> table position resolves via searchsorted on the
    ascending cid arrays (codebook buckets can be sparse)."""
    cid_arrs, cent_mats = _pq_table(cents)
    _, qtab = _adc_tables(cent_mats, qsvs, m, block)

    @F.pandas_udf("array<long>")
    def totals(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        CO = np.vstack(col.to_numpy()).astype(np.int64)   # (n, m) codes
        pos = np.empty(CO.shape, dtype=np.int64)
        for s in range(m):
            # membership check (ADVICE r4): a stored code that is not a
            # codebook cid means the codes table and the model disagree
            # (stale index / wrong model) — raise instead of silently
            # scoring against whatever row searchsorted lands on (or an
            # IndexError when the code exceeds the last cid).
            pos[:, s] = np.searchsorted(cid_arrs[s], CO[:, s])
            bad = (pos[:, s] >= len(cid_arrs[s])) | (
                cid_arrs[s][np.minimum(pos[:, s], len(cid_arrs[s]) - 1)]
                != CO[:, s])
            if bad.any():
                raise ValueError(
                    f"pq_totals_from_codes: code {int(CO[bad, s][0])} in "
                    f"subspace {s} is not a codebook cid — codes table "
                    f"was not produced by this model")
        return pd.Series(list(_adc_totals(qtab, pos)))

    return totals


def feature_hash_udf(dim: int):
    """pandas_udf: token array -> dim-wide signed-count feature vector
    (array<long>) via the hashing trick: each token hashes once (the
    portable 60-bit md5), and its ±1 contribution to feature d is bit d
    of the hash (d mod 60). Exact integer sums — bit-identical to the
    oracle's list-HOF form at any reduction order — so the output plugs
    straight into the int-grid similarity contract (idot/qcos) with no
    quantization step.

    Python hashlib runs per DISTINCT token per batch (memoized dict —
    the corpus vocabulary is far smaller than the token stream), then
    the ±1 expansion is one numpy take + sum per document.
    """
    import hashlib

    shifts = np.arange(dim, dtype=np.uint64) % 60
    memo: dict = {}

    def hrow(tok: str):
        r = memo.get(tok)
        if r is None:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            r = (((np.uint64(h) >> shifts) & np.uint64(1))
                 .astype(np.int64) * 2 - 1)
            memo[tok] = r
        return r

    @F.pandas_udf("array<long>")
    def feats(col: pd.Series) -> pd.Series:
        out = []
        for toks in col:
            if toks is None or len(toks) == 0:
                out.append(np.zeros(dim, dtype=np.int64))
                continue
            M = np.stack([hrow(t) for t in toks])
            out.append(M.sum(axis=0, dtype=np.int64))
        return pd.Series(out)

    return feats


# Ship this module's code inside every pickled kernel rather than a
# reference to it: the Python workers need not import the package.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
