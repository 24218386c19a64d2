"""Arrow kernel guards (the quantized-embedding contract's load-bearing
preconditions).

Each Arrow kernel is its operator's ONE implementation, and its output is
compared bit-for-bit — floats included — against the DuckDB oracle by
tests/test_oracle_parity.py, at the registered inputs and kwargs:

  - minhash_sig_udf (minhash_lsh_pairs):   x03_dedup_minhash_lsh
  - srp_sig_udf (srp_bucket_neighbors):    x08_srp_ann
  - bucket_pair_cosines
    (cosine_near_dup_pairs, threshold 0.4): x12_embedding_near_dup
  - ivf_cos_udf (ivf_topk):                x20_ivf_ann
  - pq_adc_totals_udf (pq_topk):           x36_pq_ann

Exactness holds because every reduction is an int64 sum and every float
is derived from exact ints by identically-rounded IEEE ops. This module
keeps what the parity suite cannot see: degenerate inputs that would
break the contract must fail loudly."""

from __future__ import annotations


def test_zero_norm_inputs_fail_loudly(spark):
    """Degenerate (zero-norm) vectors and centroids must raise, not
    silently NaN-route (ADVICE r9): 0/0 cosines make np.argmax pick the
    first NaN index while the DuckDB oracle's NULL ordering differs, so the
    bit-for-bit contract would break without any signal. All three IVF
    kernels reject them — centroids at closure build, vectors in-kernel."""
    import numpy as np
    import pytest as _pt
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.vectorized import (
        ivf_assign_hier_udf, ivf_assign_udf, ivf_cos_udf,
    )

    good = [{"cid": i, "cv": [int(1e6) * (i + 1), 7 * i], "cn2":
             int(1e12) * (i + 1) ** 2 + 49 * i * i} for i in range(4)]
    zero_cent = good[:3] + [{"cid": 3, "cv": [0, 0], "cn2": 0}]
    with _pt.raises(ValueError, match="zero-norm centroid"):
        ivf_assign_udf(zero_cent)
    with _pt.raises(ValueError, match="zero-norm centroid"):
        ivf_assign_hier_udf(zero_cent, 2)
    with _pt.raises(ValueError, match="zero-norm query"):
        ivf_cos_udf(good, [[0]], [[0, 0]])

    # zero-norm INPUT vector: quantizes to (0,0) -> the kernel raises on
    # the executor, surfacing as a PythonException wrapping ValueError
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1e-9, -1e-9])],
        "vec_id long, embedding array<double>")
    flat = ivf_assign_udf(good)
    with _pt.raises(Exception, match="zero-norm input vector"):
        df.select(flat(F.col("embedding"))).collect()
    # and the non-degenerate frame still assigns fine after the guard
    ok = df.filter("vec_id = 0").select(
        flat(F.col("embedding")).alias("cid")).collect()
    assert len(ok) == 1 and ok[0].cid in {0, 1, 2, 3}
    assert np.all(np.isfinite([ok[0].cid]))
