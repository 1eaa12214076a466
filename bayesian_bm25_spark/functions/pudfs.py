"""Arrow-batched pandas UDF factories.

NOTE: this module intentionally does NOT use ``from __future__ import
annotations`` — pyspark resolves pandas_udf type hints at decoration
time, and stringified annotations break that resolution.

Each factory closes over small driver-fit state (breakpoints, weight
matrices) which Spark broadcasts with the serialized UDF.
"""

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def isotonic_udf(bx: np.ndarray, by: np.ndarray):
    """Isotonic interpolation UDF over broadcast PAVA breakpoints."""
    from bayesian_bm25_spark.kernel.calibrate import isotonic_calibrate

    @pandas_udf("double")
    def iso(p: pd.Series) -> pd.Series:
        return pd.Series(isotonic_calibrate(p.to_numpy(), bx, by))

    return iso


def attention_fusion_udf(W: np.ndarray, b: np.ndarray, alpha: float,
                         base_rate=None):
    """Attention-weighted log-odds fusion of 2 signals from 3 query
    features, with broadcast (W, b)."""
    from bayesian_bm25_spark.kernel.combine import AttentionLogOddsWeights

    @pandas_udf("double")
    def fuse(p1: pd.Series, p2: pd.Series, f1: pd.Series, f2: pd.Series,
             f3: pd.Series) -> pd.Series:
        att = AttentionLogOddsWeights(W.shape[0], W.shape[1], alpha=alpha,
                                      base_rate=base_rate, seed=0)
        att.W, att.b = W, b
        probs = np.column_stack([p1.to_numpy(), p2.to_numpy()])
        qf = np.column_stack([f1.to_numpy(), f2.to_numpy(), f3.to_numpy()])
        return pd.Series(np.atleast_1d(att(probs, qf)))

    return fuse


def cell_assign_udf(centroids: np.ndarray):
    """argmax-cosine cell assignment against broadcast centroids.

    ``centroids`` must be L2-normalized (train_centroids' contract), so
    argmax dot == argmax cosine and the row vectors need no per-row
    normalization.  Accumulation is float64 over the float32-valued
    inputs — the same IEEE-double math an external SQL oracle computes
    when the centroid values are inlined as literals.  Dots are rounded
    to 9 decimals BEFORE the argmax: blocked-BLAS summation can drift
    1 ulp from an oracle's sequential fold, and an unrounded near-tie
    would then flip the cell decision between engines (the same
    contract vector_background_fit uses for its argmax)."""
    cent = np.asarray(centroids, dtype=np.float32).astype(np.float64)

    @pandas_udf("int")
    def cell_of(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(np.round(m @ cent.T, 9), axis=1).astype(np.int32))

    return cell_of


def lsh_bucket_udf(planes: np.ndarray):
    """Sign-pattern bucket id against broadcast random hyperplanes."""

    @pandas_udf("long")
    def bucket_of(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float32)
        bits = (m @ planes.T) > 0
        vals = np.zeros(len(m), dtype=np.int64)
        for i in range(planes.shape[0]):
            vals = (vals << 1) | bits[:, i].astype(np.int64)
        return pd.Series(vals)

    return bucket_of
