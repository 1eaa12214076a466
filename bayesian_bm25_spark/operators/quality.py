"""End-to-end retrieval-quality harness: the fusion method matrix
evaluated with NDCG@k / MAP@k over a BEIR-format dataset.

Mirrors the reference's quality story (README.md:410-433 reports hybrid
fusion vs BM25 as NDCG@10/MAP@10 tables produced by
benchmarks/hybrid_beir.py): retrieve both signals, union candidates,
fuse with each method, rank, score against qrels.  Everything runs as
DataFrame plans — the harness works unchanged on a fixture or a real
BEIR dump.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bayesian_bm25_spark.functions import columns as C
from bayesian_bm25_spark.operators import fusion_ops as FO
from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.ir_metrics import (
    average_precision,
    mean_metric,
    ndcg_at_k,
    precision_at_k,
)


def _load_npz_embeddings(spark: SparkSession, fixture_dir: str):
    """embeddings.npz (ext-id keyed) → two small DataFrames."""
    z = np.load(os.path.join(fixture_dir, "embeddings.npz"))
    docs = spark.createDataFrame(
        [
            (str(i), [float(x) for x in e])
            for i, e in zip(z["doc_ids"], z["doc_embs"])
        ],
        "ext_doc_id string, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [
            (str(i), [float(x) for x in e])
            for i, e in zip(z["query_ids"], z["query_embs"])
        ],
        "ext_query_id string, q_emb array<float>",
    )
    return docs, queries


def evaluate_fusion_matrix(
    spark: SparkSession,
    fixture_dir: str,
    work_dir: str,
    k: int = 10,
) -> dict[str, dict[str, float]]:
    """{method: {"ndcg": NDCG@k, "map": MAP}} for the fusion matrix
    (bm25, dense, convex, rrf, balanced, log-odds local, log-odds
    posterior assembly) on a BEIR-format directory with an
    ``embeddings.npz`` sidecar (sources.synthetic_beir layout)."""
    from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index
    from bayesian_bm25_spark.sources.beir_local import load_ir_dataset

    ds = load_ir_dataset(spark, fixture_dir)
    idx = build_index(
        spark,
        ds.pages,
        os.path.join(work_dir, "quality_idx"),
        IndexConfig(base_rate="auto"),
    )

    scored = Q.score_queries(idx.postings, ds.queries)
    # probability VARIANTS by base-rate strategy — the reference's
    # matrix distinguishes scorer (no br) / scorer_br (percentile) /
    # scorer_mix / scorer_elbow (hybrid_beir.py:1831-1846); each is the
    # same posterior column under different TransformParams
    from dataclasses import replace as _dc_replace

    from bayesian_bm25_spark.operators.index_build import _estimate_params

    docs_frame = spark.read.parquet(os.path.join(idx.path, "docs"))
    params_mix = _estimate_params(
        spark, docs_frame, idx.postings,
        _dc_replace(idx.config, base_rate="auto", base_rate_method="mixture"),
        idx.n_docs,
    )
    params_elbow = _estimate_params(
        spark, docs_frame, idx.postings,
        _dc_replace(idx.config, base_rate="auto", base_rate_method="elbow"),
        idx.n_docs,
    )
    s = Q.with_probability(scored, idx.params, idx.avgdl)
    for name, prm in [
        ("p_nobr", _dc_replace(idx.params, base_rate=None)),
        ("p_mix", params_mix),
        ("p_elbow", params_elbow),
    ]:
        s = Q.with_probability(
            s.withColumnRenamed("probability", "__keep"), prm, idx.avgdl
        ).withColumnRenamed("probability", name).withColumnRenamed(
            "__keep", "probability"
        )
    sparse = s.select(
        "query_id", "doc_id", "score", "probability", "p_nobr", "p_mix",
        "p_elbow", "tf_match", "doc_len",
    )

    emb_docs, emb_queries = _load_npz_embeddings(spark, fixture_dir)
    doc_emb = emb_docs.join(ds.doc_ids, "ext_doc_id").select("doc_id", "embedding")
    q_emb = emb_queries.join(F.broadcast(ds.query_ids), "ext_query_id").select(
        "query_id", "q_emb"
    )
    dense = (
        doc_emb.crossJoin(F.broadcast(q_emb))
        .select(
            "query_id",
            "doc_id",
            C.cosine_similarity(F.col("embedding"), F.col("q_emb")).alias("sim"),
        )
        .where(F.col("sim") > 0)
    )

    cands = (
        sparse.join(dense, ["query_id", "doc_id"], "full_outer")
        .withColumn("score", F.coalesce("score", F.lit(0.0)))
        .withColumn("p_sparse", F.coalesce("probability", F.lit(0.0)))
        .withColumn("p_nobr", F.coalesce("p_nobr", F.lit(0.0)))
        .withColumn("p_mix", F.coalesce("p_mix", F.lit(0.0)))
        .withColumn("p_elbow", F.coalesce("p_elbow", F.lit(0.0)))
        .withColumn("tf_match", F.coalesce("tf_match", F.lit(0.0)))
        .withColumn("doc_len", F.coalesce("doc_len", F.lit(0.0)))
        .withColumn("cos_dense", F.coalesce("sim", F.lit(0.0)))
        .select("query_id", "doc_id", "score", "p_sparse", "p_nobr",
                "p_mix", "p_elbow", "tf_match", "doc_len", "cos_dense")
        .localCheckpoint(eager=False)
    )

    rankings: dict[str, DataFrame] = {
        "bm25": FO.topk_fused(
            cands.withColumn("fused", F.col("score")), k=k
        ),
        "dense": FO.topk_fused(
            cands.withColumn("fused", F.col("cos_dense")), k=k
        ),
        "convex": FO.topk_fused(FO.convex_fusion(cands), k=k),
        "rrf": FO.topk_fused(
            FO.rrf_fusion(
                sparse, dense, sparse_col="probability", dense_col="sim"
            ),
            k=k,
        ),
        "balanced": FO.topk_fused(FO.balanced_fusion(cands), k=k),
        "logodds_local": FO.topk_fused(FO.logodds_local_fusion(cands), k=k),
        "vpt_balanced": FO.topk_fused(
            FO.vpt_balanced_fusion(
                FO.kappa_calibrate(
                    cands.withColumn("distance", 1.0 - F.col("cos_dense"))
                )
            ),
            k=k,
        ),
        "arctan_or": FO.topk_fused(
            cands.withColumn(
                "p_dense",
                FO.arctan_normalize(F.greatest(F.col("cos_dense"), F.lit(0.0))),
            ).withColumn(
                "fused",
                1.0 - (1.0 - F.col("p_sparse")) * (1.0 - F.col("p_dense")),
            ),
            k=k,
        ),
        # Dense-Kappa (hybrid_beir.py:1850, published ECE README.md:549):
        # the dense signal alone through the global sigmoid background
        # calibration — ranking is monotone in sim, so NDCG matches the
        # dense row by design; the row exists for the CALIBRATION story
        # (see the ECE section below)
        "dense_kappa": FO.topk_fused(
            FO.kappa_calibrate(
                cands.withColumn("distance", 1.0 - F.col("cos_dense"))
            ).withColumn("fused", F.col("p_dense")),
            k=k,
        ),
    }
    rankings["dense_platt"] = _dense_platt_ranking(cands, ds.qrels, k=k)
    rankings.update(
        _tuned_rankings(spark, cands, ds.qrels, idx.params, idx.avgdl, k=k)
    )
    rankings.update(_learned_fusion_rankings(cands, ds.qrels, k=k))
    rankings.update(
        _extended_matrix_rankings(
            cands, k=k, queries=ds.queries, qrels=ds.qrels, n_docs=idx.n_docs
        )
    )

    out: dict[str, dict[str, float]] = {}
    for name, ranking in rankings.items():
        r = ranking.select("query_id", "rank", "doc_id")
        out[name] = {
            "ndcg": mean_metric(ndcg_at_k(r, ds.qrels, k=k), "ndcg"),
            "map": mean_metric(average_precision(r, ds.qrels), "ap"),
            "p": mean_metric(precision_at_k(r, ds.qrels, k=k), "precision"),
        }
    return out


def _extended_matrix_rankings(
    cands: DataFrame,
    k: int = 10,
    queries: DataFrame | None = None,
    qrels: DataFrame | None = None,
    n_docs: int | None = None,
) -> dict[str, DataFrame]:
    """The rest of the reference's BASELINE_METHODS matrix
    (hybrid_beir.py:1450-1468) over the harness's two signals:

    - ``logodds_br``      — Bayesian-LogOdds-BR (:1831): ungated log-odds
      conjunction of the BASE-RATED posterior with the dense prob (the
      no-br variant is the ``logodds`` row).
    - ``balanced_mix`` / ``balanced_elbow`` — Bayesian-Balanced-Mix /
      -Elbow (:1840-1846): balanced fusion over posteriors whose base
      rate came from the mixture / elbow estimator.
    - ``gated_swish_b2``  — Bayesian-Gated-Swish-B2 (:1878): swish
      gating with β=2.0.
    - ``vector_balanced`` / ``vector_softplus`` — Bayesian-Vector-*
      (:1964-1970): the dense signal VPT-density-ratio-calibrated
      (distributed per-query applyInPandas, vector_ops.calibrate_per_query,
      BM25-posterior importance weights per Section 4.3), then
      std-balanced fusion / softplus conjunction (max_logit=10).
    - ``vpt_bw_{0.2,0.5,1.0,2.0}`` — the Stage-7 bandwidth ablation
      (:2020-2032): KDE forced, Silverman bandwidth scaled by c.

    Protocol deltas vs the reference, disclosed: the exact backend's
    decoupled sample (query-corpus distance sample + separate candidate
    set) collapses here because the harness's candidate set IS the full
    cross product at fixture scale; weights are the base-rated BM25
    posteriors without the separability gate (no IVF diagnostics on the
    exact path)."""
    from bayesian_bm25_spark.operators import vector_ops as VO

    base = cands.withColumn(
        "p_dense", C.cosine_to_probability(F.col("cos_dense"))
    )
    out: dict[str, DataFrame] = {}

    def _conj(name: str, cols: list[str], **kw) -> None:
        out[name] = FO.topk_fused(
            base.withColumn(
                "fused",
                C.log_odds_conjunction(F.array(*[F.col(c) for c in cols]), **kw),
            ),
            k=k,
        )

    _conj("logodds_br", ["p_sparse", "p_dense"], gating="none")
    _conj("gated_swish_b2", ["p_sparse", "p_dense"], gating="swish",
          gating_beta=2.0)
    out["balanced_mix"] = FO.topk_fused(
        FO.balanced_fusion(base.withColumn("p_sparse", F.col("p_mix"))), k=k
    )
    out["balanced_elbow"] = FO.topk_fused(
        FO.balanced_fusion(base.withColumn("p_sparse", F.col("p_elbow"))), k=k
    )

    dcands = base.withColumn("distance", 1.0 - F.col("cos_dense"))
    vpt = VO.fit_background(dcands)
    cal = VO.calibrate_per_query(dcands, vpt, weight_col="p_sparse")
    out["vector_balanced"] = FO.topk_fused(
        FO.vpt_balanced_fusion(
            cal.withColumn("p_dense", F.col("vector_prob"))
        ),
        k=k,
    )
    out["vector_softplus"] = FO.topk_fused(
        cal.withColumn(
            "fused",
            C.log_odds_conjunction(
                F.array(F.col("p_sparse"), F.col("vector_prob")),
                gating="softplus", max_logit=10.0,
            ),
        ),
        k=k,
    )
    for c in (0.2, 0.5, 1.0, 2.0):
        bw = VO.calibrate_per_query(
            dcands, vpt, weight_col="p_sparse", method="kde",
            bandwidth_factor=c,
        )
        out[f"vpt_bw_{c}"] = FO.topk_fused(
            FO.vpt_balanced_fusion(
                bw.withColumn("p_dense", F.col("vector_prob"))
            ),
            k=k,
        )
    if queries is not None and qrels is not None and n_docs is not None:
        out.update(
            _attention_rich_rankings(cal, queries, qrels, n_docs, k=k)
        )
    return out


def _attention_rich_rankings(
    cal: DataFrame,
    queries: DataFrame,
    qrels: DataFrame,
    n_docs: int,
    k: int = 10,
) -> dict[str, DataFrame]:
    """The improved-attention quartet (reference hybrid_beir.py:2211-2301):

    - ``attn_norm``      — Bayesian-Attn-Norm: AttentionLogOddsWeights
      with per-signal logit min-max normalization over each query's
      candidate set + 7 rich features (3 BM25 + 3 dense + top-100
      retrieval-overlap Jaccard; :2060-2101).
    - ``attn_norm_cv``   — Bayesian-Attn-Norm-CV: 5-fold CV (seeded
      permutation :1386-1394) — the ONLY learned row whose every query
      is scored by a model that never saw its qrels.
    - ``multihead_norm`` — Bayesian-MultiHead-Norm: 4 heads, rich
      features, normalize (:2286-2301).
    - ``vector_attn``    — Bayesian-Vector-Attn: same as attn_norm but
      the dense signal is the VPT-calibrated probability (:2230-2235).

    Training follows the reference protocol directly (plain 500-iter GD,
    lr 0.01, no checkpoint selection; in-dataset fit except the CV row).
    Fits are bounded driver-side collects (fixture-scale candidate
    table); application is DISTRIBUTED per-query ``applyInPandas`` —
    normalization is a per-candidate-set operation, so a scalar UDF
    cannot express it.  Feature deltas vs the reference, disclosed: the
    top-10/top-100 dense statistics and the overlap Jaccard run over
    the harness's candidate union rather than the full-corpus retrieval
    the reference's in-memory backend sees."""
    import pandas as pd

    from bayesian_bm25_spark.kernel.combine import (
        AttentionLogOddsWeights,
        MultiHeadAttentionLogOddsWeights,
    )

    wb = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    wd = Window.partitionBy("query_id").orderBy(
        F.desc("cos_dense"), F.asc("doc_id")
    )
    ranked = cal.withColumn("rb", F.row_number().over(wb)).withColumn(
        "rd", F.row_number().over(wd)
    )
    fq = ranked.groupBy("query_id").agg(
        (F.sum((F.col("score") > 0).cast("int")) / float(n_docs)).alias("f2"),
        F.log1p(F.greatest(F.max("score"), F.lit(0.0))).alias("f3"),
        F.coalesce(
            F.avg(F.when(F.col("rd") <= 10, F.col("cos_dense"))), F.lit(0.0)
        ).alias("f4"),
        F.coalesce(
            F.stddev_pop(F.when(F.col("rd") <= 10, F.col("cos_dense"))),
            F.lit(0.0),
        ).alias("f5"),
        F.log1p(F.greatest(F.max("cos_dense"), F.lit(0.0))).alias("f6"),
        (
            F.sum(((F.col("rb") <= 100) & (F.col("rd") <= 100)).cast("int"))
            / F.greatest(
                F.sum(((F.col("rb") <= 100) | (F.col("rd") <= 100)).cast("int")),
                F.lit(1),
            )
        ).alias("f7"),
    )
    qlen = queries.select(
        "query_id", F.log1p(F.size("terms").cast("double")).alias("f1")
    )
    FEATS = ["f1", "f2", "f3", "f4", "f5", "f6", "f7"]
    feats = (
        cal.join(F.broadcast(qlen), "query_id")
        .join(F.broadcast(fq), "query_id")
        .localCheckpoint(eager=False)
    )

    train = (
        feats.join(
            qrels.select("query_id", "doc_id", "relevance"),
            ["query_id", "doc_id"],
            "left",
        )
        .withColumn("relevance", F.coalesce("relevance", F.lit(0)))
        .select(
            "query_id", "doc_id", "p_sparse", "p_dense", "vector_prob",
            *FEATS, "relevance",
        )
        .toPandas()
        .sort_values(["query_id", "doc_id"])
    )
    labels = (train["relevance"].to_numpy() > 0).astype(np.float64)
    qf = train[FEATS].to_numpy(dtype=np.float64)
    qid = train["query_id"].to_numpy()
    sig_cos = np.column_stack(
        [train["p_sparse"].to_numpy(), train["p_dense"].to_numpy()]
    )
    sig_vpt = np.column_stack(
        [train["p_sparse"].to_numpy(), train["vector_prob"].to_numpy()]
    )

    def _fit_attention(signals: np.ndarray, mask=None) -> AttentionLogOddsWeights:
        m = AttentionLogOddsWeights(2, len(FEATS), alpha=0.5, normalize=True)
        sel = slice(None) if mask is None else mask
        m.fit(
            signals[sel], labels[sel], qf[sel], query_ids=qid[sel],
            learning_rate=0.01, max_iterations=500,
        )
        return m

    def _apply(models: dict, dense_col: str, name: str) -> DataFrame:
        """One applyInPandas per row-group; ``models`` maps query_id →
        (W, b) — a single global model broadcasts as the None key."""
        from pyspark.sql.types import DoubleType, StructField, StructType

        packed = {
            q: [(h[0].copy(), h[1].copy()) for h in heads]
            for q, heads in models.items()
        }
        schema = StructType(
            list(feats.schema.fields) + [StructField("fused", DoubleType())]
        )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            q = pdf["query_id"].iloc[0]
            heads = packed.get(q, packed.get(None))
            pdf = pdf.sort_values("doc_id").copy()
            probs = np.column_stack(
                [pdf["p_sparse"].to_numpy(), pdf[dense_col].to_numpy()]
            )
            qfl = pdf[FEATS].to_numpy(dtype=np.float64)
            outs = []
            for W, b in heads:
                hm = AttentionLogOddsWeights(2, len(FEATS), alpha=0.5,
                                             normalize=True, seed=0)
                hm.W, hm.b = W, b
                hm.W_avg, hm.b_avg = W, b
                outs.append(
                    np.atleast_1d(hm(probs, qfl, use_averaged=True))
                )
            from bayesian_bm25_spark.kernel.transform import logit as klogit
            from bayesian_bm25_spark.kernel.transform import sigmoid as ksig
            fused = (
                outs[0]
                if len(outs) == 1
                else ksig(np.mean([klogit(np.clip(o, 1e-10, 1 - 1e-10))
                                   for o in outs], axis=0))
            )
            pdf["fused"] = fused
            return pdf

        return feats.groupBy("query_id").applyInPandas(run, schema=schema)

    out: dict[str, DataFrame] = {}
    attn = _fit_attention(sig_cos)
    out["attn_norm"] = FO.topk_fused(
        _apply({None: [(attn.W, attn.b)]}, "p_dense", "attn_norm"), k=k
    )
    vattn = _fit_attention(sig_vpt)
    out["vector_attn"] = FO.topk_fused(
        _apply({None: [(vattn.W, vattn.b)]}, "vector_prob", "vector_attn"), k=k
    )

    mh = MultiHeadAttentionLogOddsWeights(2, len(FEATS), n_heads=4,
                                          alpha=0.5, normalize=True)
    mh.fit(sig_cos, labels, qf, query_ids=qid, learning_rate=0.01,
           max_iterations=500)
    out["multihead_norm"] = FO.topk_fused(
        _apply({None: [(h.W, h.b) for h in mh.heads]}, "p_dense",
               "multihead_norm"),
        k=k,
    )

    # 5-fold CV: seeded permutation of the query ids, contiguous folds
    # (reference :1386-1394); each fold's queries are scored by a model
    # fit on the OTHER folds only
    uq = np.array(sorted(set(qid.tolist())))
    perm = np.random.default_rng(42).permutation(len(uq))
    n_folds = 5
    fold_size = max(1, len(uq) // n_folds)
    cv_models: dict = {}
    for i in range(n_folds):
        start = i * fold_size
        end = len(uq) if i == n_folds - 1 else start + fold_size
        test_q = {uq[perm[j]] for j in range(start, min(end, len(uq)))}
        if not test_q:
            continue
        mask = ~np.isin(qid, list(test_q))
        if labels[mask].sum() == 0 or (1 - labels[mask]).sum() == 0:
            continue
        m = _fit_attention(sig_cos, mask=mask)
        for q in test_q:
            cv_models[q] = [(m.W, m.b)]
    if cv_models:
        # queries whose fold was skipped fall back to the global model
        cv_models[None] = [(attn.W, attn.b)]
        out["attn_norm_cv"] = FO.topk_fused(
            _apply(cv_models, "p_dense", "attn_norm_cv"), k=k
        )
    return out


def _tuned_rankings(
    spark: SparkSession,
    cands: DataFrame,
    qrels: DataFrame,
    params,
    avgdl: float,
    k: int = 10,
) -> dict[str, DataFrame]:
    """The reference's TUNED_METHODS trio (hybrid_beir.py:1467,
    grid_search_tuned :1001-1093):

    - ``tuned``            — Bayesian-Tuned: base_rate grid
      {None, 0.001, 0.005, 0.01, 0.05, 0.1, auto} → posterior with the
      NDCG@k-best rate.
    - ``balanced_tuned``   — Bayesian-Balanced-Tuned: fusion weight grid
      0.0..1.0 (step 0.1) over balanced fusion with the tuned transform.
    - ``hybrid_and_tuned`` — Bayesian-Hybrid-AND-Tuned: n^α exponent
      grid {0, 0.25, 0.5, 0.75, 1.0} for the log-odds conjunction.

    Tuning protocol: grids are scored on a seeded HALF of the queries
    (the reference's ``tune=True`` 50/50 split, :2352+); the reported
    row metrics (like every row) cover all queries, so the other half
    is genuinely held out.  The grid itself runs driver-side on the
    collected candidate table — the reference's own protocol is driver
    numpy; at real scale the winning config re-runs as the usual
    distributed plan, which is exactly what the returned rankings are."""
    import pandas as pd

    from bayesian_bm25_spark.kernel.combine import (
        log_odds_conjunction as k_conj,
    )
    from bayesian_bm25_spark.kernel.combine import min_max_normalize
    from bayesian_bm25_spark.kernel.transform import (
        TransformParams,
        clamp01,
        logit,
    )

    pdf = (
        cands.join(
            qrels.select("query_id", "doc_id", "relevance"),
            ["query_id", "doc_id"],
            "left",
        )
        .withColumn("relevance", F.coalesce("relevance", F.lit(0)))
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    qid = pdf["query_id"].to_numpy()
    rel = pdf["relevance"].to_numpy().astype(np.float64)
    score = pdf["score"].to_numpy()
    tf = pdf["tf_match"].to_numpy(dtype=np.float64)
    ratio = pdf["doc_len"].to_numpy(dtype=np.float64) / float(avgdl)
    p_dense = clamp01((1.0 + pdf["cos_dense"].to_numpy()) / 2.0)
    doc = pdf["doc_id"].to_numpy()
    uq = np.array(sorted(set(qid.tolist())))
    train_q = set(uq[np.random.default_rng(42).permutation(len(uq))[: len(uq) // 2]].tolist())
    train_mask = np.isin(qid, list(train_q))

    def _posterior(br) -> np.ndarray:
        t = TransformParams(alpha=params.alpha, beta=params.beta, base_rate=br)
        out = np.zeros(len(score))
        m = score > 0
        if m.any():
            out[m] = t.score_to_probability(score[m], tf[m], ratio[m])
        return out

    def _mean_ndcg(fused: np.ndarray, mask=None) -> float:
        vals = []
        for q in uq:
            if mask is not None and q not in mask:
                continue
            s = qid == q
            order = np.lexsort((doc[s], -fused[s]))[:k]
            g = rel[s][order]
            dcg = float(np.sum((2.0 ** g - 1) / np.log2(np.arange(len(g)) + 2.0)))
            ig = np.sort(rel[s])[::-1][:k]
            idcg = float(np.sum((2.0 ** ig - 1) / np.log2(np.arange(len(ig)) + 2.0)))
            vals.append(dcg / idcg if idcg > 0 else 0.0)
        return float(np.mean(vals)) if vals else 0.0

    br_grid = [None, 0.001, 0.005, 0.01, 0.05, 0.1, params.base_rate]
    seen, grid = set(), []
    for b in br_grid:
        key = round(b, 10) if b is not None else None
        if key not in seen:
            seen.add(key)
            grid.append(b)
    best_br = max(grid, key=lambda b: _mean_ndcg(_posterior(b), mask=train_q))
    p_tuned = _posterior(best_br)

    def _balanced(w: float) -> np.ndarray:
        ls, ld = logit(clamp01(p_tuned)), logit(p_dense)
        out = np.zeros(len(ls))
        for q in uq:
            s = qid == q
            out[s] = w * min_max_normalize(ld[s]) + (1 - w) * min_max_normalize(ls[s])
        return out

    best_w = max(
        [round(w * 0.1, 1) for w in range(11)],
        key=lambda w: _mean_ndcg(_balanced(w), mask=train_q),
    )

    def _hybrid(ha: float) -> np.ndarray:
        return np.atleast_1d(
            k_conj(np.column_stack([p_tuned, p_dense]), alpha=ha)
        )

    best_ha = max(
        [0.0, 0.25, 0.5, 0.75, 1.0],
        key=lambda a: _mean_ndcg(_hybrid(a), mask=train_q),
    )

    def _ranking(fused: np.ndarray) -> DataFrame:
        rows = []
        for q in uq:
            s = qid == q
            order = np.lexsort((doc[s], -fused[s]))[:k]
            rows.extend(
                (int(q) if not isinstance(q, str) else q, r + 1, int(doc[s][order[r]]))
                for r in range(len(order))
            )
        return spark.createDataFrame(rows, "query_id long, rank int, doc_id long")

    return {
        "tuned": _ranking(p_tuned),
        "balanced_tuned": _ranking(_balanced(best_w)),
        "hybrid_and_tuned": _ranking(_hybrid(best_ha)),
    }


def _dense_platt_ranking(cands: DataFrame, qrels: DataFrame, k: int = 10) -> DataFrame:
    """Dense-Platt (reference hybrid_beir.py:1855-1862): the dense
    cosine signal calibrated with a supervised Platt fit.

    The reference fits on (similarity, label) pairs collected from the
    SAME dataset's queries (its own first pass at :1677-1699) — an
    in-dataset protocol, mirrored here.  One protocol delta, forced by
    the fixture: the reference keeps only docs present in qrels, but the
    fixture's qrels are positives-only, which would make every training
    label 1.0 and the fit degenerate; instead unjudged candidates count
    as label 0 — the same labeling the harness's attention training uses.
    The fit is a bounded driver-side collect of (sim, label) per
    candidate (fixture-scale; at real scale sample the pairs), applied
    distributed as pure Column math σ(a·s + b)."""
    from bayesian_bm25_spark.kernel.calibrate import PlattCalibrator

    train = (
        cands.join(
            qrels.select("query_id", "doc_id", "relevance"),
            ["query_id", "doc_id"],
            "left",
        )
        .select(
            "cos_dense",
            (F.coalesce("relevance", F.lit(0)) > 0).cast("double").alias("label"),
        )
        .toPandas()
    )
    cal = PlattCalibrator()
    if len(train) >= 10:
        cal.fit(train["cos_dense"].to_numpy(), train["label"].to_numpy())
    return FO.topk_fused(
        cands.withColumn(
            "fused",
            C.sigmoid(F.lit(float(cal.a)) * F.col("cos_dense") + F.lit(float(cal.b))),
        ),
        k=k,
    )


def _learned_fusion_rankings(
    cands: DataFrame, qrels: DataFrame, k: int = 10
) -> dict[str, DataFrame]:
    """Gated, attention, and multi-head fusion over the harness's two
    signals — the learned methods behind the reference's headline
    number (README.md:433: attention fusion tops the BEIR table).

    Signals: per-query min-max-normalized logits re-expressed as
    probabilities (ps_n = σ(minmax(logit p_sparse)), likewise dense) —
    the same normalization ``balanced`` uses, so zero-weight-initialized
    attention reproduces the balanced ranking exactly and training can
    only move off that baseline when the logistic loss says so.  Query
    features (p_n·2−1 per signal + bias 0.5) follow the oracle-checked
    attention/multihead entries.  Attention and multi-head W, b are FIT
    driver-side on the fixture's qrels (bounded collect: the candidate
    table is |queries|×candidates, fixture-scale by construction — at
    real scale fit on a sampled train split instead) and applied
    distributed via the Arrow UDF.  Gated needs no training."""
    import pandas as pd  # noqa: F401

    from bayesian_bm25_spark.functions.pudfs import attention_fusion_udf
    from bayesian_bm25_spark.kernel.combine import (
        AttentionLogOddsWeights,
        MultiHeadAttentionLogOddsWeights,
        min_max_normalize,
    )

    feats = (
        cands.withColumn("p_dense", C.cosine_to_probability(F.col("cos_dense")))
        .withColumn(
            "ps_n", C.sigmoid(FO._minmax_over_query(C.logit(F.col("p_sparse"))))
        )
        .withColumn(
            "pd_n", C.sigmoid(FO._minmax_over_query(C.logit(F.col("p_dense"))))
        )
        .withColumn("f1", F.col("ps_n") * 2 - 1)
        .withColumn("f2", F.col("pd_n") * 2 - 1)
        .withColumn("f3", F.lit(0.5))
    )

    def _gated(kind: str) -> DataFrame:
        return FO.topk_fused(
            feats.withColumn(
                "fused",
                C.log_odds_conjunction(
                    F.array("p_sparse", "p_dense"), gating=kind
                ),
            ),
            k=k,
        )

    out: dict[str, DataFrame] = {
        # reference matrix rows Bayesian-Gated-* (hybrid_beir.py:1456-57)
        "gated_relu": _gated("relu"),
        "gated_swish": _gated("swish"),
        "gated_gelu": _gated("gelu"),
        "gated_softplus": _gated("softplus"),
        # Bayesian-LogOdds: ungated posterior log-odds conjunction over
        # the NO-base-rate posterior (reference :1822 fuses the plain
        # scorer; the base-rated variant is the ``logodds_br`` row)
        "logodds": FO.topk_fused(
            feats.withColumn(
                "fused",
                C.log_odds_conjunction(
                    F.array("p_nobr", "p_dense"), gating="none"
                ),
            ),
            k=k,
        ),
        # Dense-Arctan: the arctan-calibrated dense signal alone
        "dense_arctan": FO.topk_fused(
            feats.withColumn(
                "fused",
                FO.arctan_normalize(F.greatest(F.col("cos_dense"), F.lit(0.0))),
            ),
            k=k,
        ),
        # the reference's faithful OR fusion (fusion_bayesian_bm25_or):
        # p_dense = clamp((1+cos)/2), fused = 1 − Π(1−p)
        "cosine_or": FO.topk_fused(
            feats.withColumn(
                "fused",
                1.0 - (1.0 - F.col("p_sparse")) * (1.0 - F.col("p_dense")),
            ),
            k=k,
        ),
    }

    train = (
        feats.join(
            qrels.select("query_id", "doc_id", "relevance"),
            ["query_id", "doc_id"],
            "left",
        )
        .withColumn("relevance", F.coalesce("relevance", F.lit(0)))
        .select("query_id", "doc_id", "p_sparse", "p_dense", "relevance")
        .toPandas()
        .sort_values(["query_id", "doc_id"])
    )

    from bayesian_bm25_spark.kernel.transform import clamp01, logit, sigmoid

    # EXACT driver twin of the Spark-side normalization above
    ls = logit(clamp01(train["p_sparse"].to_numpy()))
    ld = logit(clamp01(train["p_dense"].to_numpy()))
    qid = train["query_id"].to_numpy()
    doc = train["doc_id"].to_numpy()
    rel = train["relevance"].to_numpy().astype(np.float64)
    xs = np.empty_like(ls)
    xd = np.empty_like(ld)
    for q in np.unique(qid):
        m = qid == q
        xs[m] = min_max_normalize(ls[m])
        xd[m] = min_max_normalize(ld[m])
    probs = np.column_stack([sigmoid(xs), sigmoid(xd)])
    qf = np.column_stack(
        [probs[:, 0] * 2 - 1, probs[:, 1] * 2 - 1, np.full(len(probs), 0.5)]
    )
    labels = (rel > 0).astype(np.float64)

    def _dcg_sum(fused: np.ndarray, qsel=None) -> float:
        """Σ_q DCG@k of the candidate ranking (fused DESC, doc_id ASC
        tie-break — same order topk_fused produces).  IDCG is constant
        per query, so the un-normalized sum selects the same argmax.
        ``qsel`` restricts the sum to a query subset (CV: model
        selection must only see training-fold queries)."""
        s = 0.0
        for q in np.unique(qid):
            if qsel is not None and q not in qsel:
                continue
            m = qid == q
            order = np.lexsort((doc[m], -fused[m]))[:k]
            g = rel[m][order]
            s += float(np.sum(g / np.log2(np.arange(len(g)) + 2.0)))
        return s

    def _fit_rank_selected(model, forward, fit=None, qsel=None):
        """Chunked GD with rank-metric model selection: fit 20 iters at
        a time, score DCG@k after each chunk, keep the best checkpoint.
        The zero-W init ranks exactly like ``balanced`` (equal softmax
        weights over the same normalized logits), so the selected model
        never ranks worse than balanced — training departs the baseline
        only where the ranking metric improves (loss ≠ metric on small
        candidate sets, so pure logistic fitting can drift)."""
        import copy

        best_score = _dcg_sum(forward(), qsel)
        best = copy.deepcopy(model.__dict__)
        step = fit or (lambda: model.fit(probs, labels, qf, max_iterations=20))
        for _ in range(15):
            step()
            sc = _dcg_sum(forward(), qsel)
            if sc > best_score:
                best_score = sc
                best = copy.deepcopy(model.__dict__)
        model.__dict__.update(best)

    from bayesian_bm25_spark.kernel.combine import LearnableLogOddsWeights

    lw = LearnableLogOddsWeights(2, alpha=0.5)
    _fit_rank_selected(
        lw,
        lambda: np.atleast_1d(lw(probs)),
        fit=lambda: lw.fit(probs, labels, max_iterations=20),
    )
    w1, w2 = (float(x) for x in lw.weights)
    scale = 2.0 ** lw.alpha
    out["learnable"] = FO.topk_fused(
        feats.withColumn(
            "fused",
            C.sigmoid(
                F.lit(scale)
                * (
                    F.lit(w1) * C.logit(F.col("ps_n"))
                    + F.lit(w2) * C.logit(F.col("pd_n"))
                )
            ),
        ),
        k=k,
    )

    att = AttentionLogOddsWeights(2, 3, seed=0)
    # zero init → softmax gives exactly equal weights for every query:
    # the starting ranking IS balanced; see _fit_rank_selected
    att.W[:] = 0.0
    _fit_rank_selected(att, lambda: np.atleast_1d(att(probs, qf)))
    fuse = attention_fusion_udf(att.W, att.b, att.alpha)
    out["attention"] = FO.topk_fused(
        feats.withColumn("fused", fuse("ps_n", "pd_n", "f1", "f2", "f3")),
        k=k,
    )

    mh = MultiHeadAttentionLogOddsWeights(2, 3, n_heads=3)
    for h in mh.heads:
        h.W[:] = 0.0
    _fit_rank_selected(mh, lambda: np.atleast_1d(mh(probs, qf)))
    heads = feats
    for i, head in enumerate(mh.heads):
        hf = attention_fusion_udf(head.W, head.b, head.alpha)
        heads = heads.withColumn(
            f"h{i}", hf("ps_n", "pd_n", "f1", "f2", "f3")
        )
    logits = F.array(*[C.logit(F.col(f"h{i}")) for i in range(len(mh.heads))])
    mean_logit = F.aggregate(logits, F.lit(0.0), lambda a, x: a + x) / float(
        len(mh.heads)
    )
    out["multihead"] = FO.topk_fused(
        heads.withColumn("fused", C.sigmoid(mean_logit)), k=k
    )

    # --- held-out 5-fold CV twins (the attn_norm_cv protocol: seeded
    # query permutation, contiguous folds; each fold's queries scored by
    # a model fit AND rank-selected on the other folds only, so no
    # query's qrels touch its own fused scores) -----------------------
    uq = np.array(sorted(set(qid.tolist())))
    perm = np.random.default_rng(42).permutation(len(uq))
    n_folds = 5
    fold_size = max(1, len(uq) // n_folds)
    lw_cv: dict = {}  # query_id -> (w1, w2, scale)
    mh_cv: dict = {}  # query_id -> [(W, b, alpha), ...]
    for i in range(n_folds):
        start = i * fold_size
        end = len(uq) if i == n_folds - 1 else start + fold_size
        test_q = {uq[perm[j]] for j in range(start, min(end, len(uq)))}
        if not test_q:
            continue
        mask = ~np.isin(qid, list(test_q))
        if labels[mask].sum() == 0 or (1 - labels[mask]).sum() == 0:
            continue
        train_q = set(uq.tolist()) - test_q
        flw = LearnableLogOddsWeights(2, alpha=0.5)
        _fit_rank_selected(
            flw,
            lambda flw=flw: np.atleast_1d(flw(probs)),
            fit=lambda flw=flw, mask=mask: flw.fit(
                probs[mask], labels[mask], max_iterations=20
            ),
            qsel=train_q,
        )
        fmh = MultiHeadAttentionLogOddsWeights(2, 3, n_heads=3)
        for h in fmh.heads:
            h.W[:] = 0.0
        _fit_rank_selected(
            fmh,
            lambda fmh=fmh: np.atleast_1d(fmh(probs, qf)),
            fit=lambda fmh=fmh, mask=mask: fmh.fit(
                probs[mask], labels[mask], qf[mask], max_iterations=20
            ),
            qsel=train_q,
        )
        fw1, fw2 = (float(x) for x in flw.weights)
        for q in test_q:
            lw_cv[q] = (fw1, fw2, 2.0 ** flw.alpha)
            mh_cv[q] = [(h.W.copy(), h.b.copy(), h.alpha) for h in fmh.heads]

    if lw_cv:
        # skipped-fold queries fall back to the global train-on-test fit
        lw_cv[None] = (w1, w2, scale)
        mh_cv[None] = [(h.W.copy(), h.b.copy(), h.alpha) for h in mh.heads]

        from pyspark.sql.types import DoubleType, StructField, StructType

        cv_schema = StructType(
            list(feats.schema.fields) + [StructField("fused", DoubleType())]
        )

        def _cv_apply(models: dict, combine) -> DataFrame:
            def run(pdf: pd.DataFrame) -> pd.DataFrame:
                q = pdf["query_id"].iloc[0]
                m = models.get(q, models.get(None))
                pdf = pdf.sort_values("doc_id").copy()
                pdf["fused"] = combine(pdf, m)
                return pdf

            return feats.groupBy("query_id").applyInPandas(run, schema=cv_schema)

        from bayesian_bm25_spark.kernel.transform import clamp01 as kclamp
        from bayesian_bm25_spark.kernel.transform import logit as klogit
        from bayesian_bm25_spark.kernel.transform import sigmoid as ksig

        def _lw_combine(pdf: pd.DataFrame, m) -> np.ndarray:
            cw1, cw2, cscale = m
            return ksig(
                cscale
                * (
                    cw1 * klogit(kclamp(pdf["ps_n"].to_numpy()))
                    + cw2 * klogit(kclamp(pdf["pd_n"].to_numpy()))
                )
            )

        def _mh_combine(pdf: pd.DataFrame, heads_params) -> np.ndarray:
            p2 = np.column_stack(
                [pdf["ps_n"].to_numpy(), pdf["pd_n"].to_numpy()]
            )
            qfl = np.column_stack(
                [pdf["f1"].to_numpy(), pdf["f2"].to_numpy(), pdf["f3"].to_numpy()]
            )
            outs = []
            for W, b, alpha in heads_params:
                hm = AttentionLogOddsWeights(2, 3, alpha=alpha, seed=0)
                hm.W, hm.b = W, b
                hm.W_avg, hm.b_avg = W, b
                outs.append(np.atleast_1d(hm(p2, qfl)))
            return ksig(
                np.mean(
                    [klogit(np.clip(o, 1e-10, 1 - 1e-10)) for o in outs], axis=0
                )
            )

        out["learnable_cv"] = FO.topk_fused(_cv_apply(lw_cv, _lw_combine), k=k)
        out["multihead_cv"] = FO.topk_fused(_cv_apply(mh_cv, _mh_combine), k=k)
    return out


def evaluate_calibration_by_base_rate(
    spark: SparkSession,
    fixture_dir: str,
    work_dir: str,
    n_bins: int = 10,
) -> dict[str, dict[str, float]]:
    """ECE / Brier / log-loss by base-rate strategy — the reference's
    second headline table (README.md:659-663: Bayesian no-base-rate ECE
    0.65 → base_rate=auto 0.15 (−78%) → base_rate=0.001 0.008 (−99%) on
    BEIR): the SAME scored candidates pushed through the posterior
    transform under {no base rate, percentile-auto, explicit 0.001},
    scored against qrels labels (unjudged = 0).

    The base rate is a monotone transform (rankings identical across
    rows — the reference says so above its ranking table, README:637);
    what changes is how honestly the probabilities match the actual
    relevance prevalence.  All metrics run DISTRIBUTED with the same
    fixed-bin plan as the oracle-green ``calibration_metrics`` entry;
    only the 3×3 result floats reach the driver."""
    from dataclasses import replace

    from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index
    from bayesian_bm25_spark.sources.beir_local import load_ir_dataset

    ds = load_ir_dataset(spark, fixture_dir)
    idx = build_index(
        spark,
        ds.pages,
        os.path.join(work_dir, "calib_idx"),
        IndexConfig(base_rate="auto"),
    )

    scored = Q.score_queries(idx.postings, ds.queries)
    labeled = (
        scored.join(
            ds.qrels.select("query_id", "doc_id", "relevance"),
            ["query_id", "doc_id"],
            "left",
        )
        .withColumn("y", (F.coalesce("relevance", F.lit(0)) > 0).cast("double"))
        .localCheckpoint(eager=False)
    )
    n = labeled.count()

    strategies = {
        "no_base_rate": None,
        "base_rate_auto": idx.params.base_rate,
        "base_rate_0.001": 0.001,
    }
    out: dict[str, dict[str, float]] = {}
    for name, br in strategies.items():
        params = replace(idx.params, base_rate=br)
        probs = Q.with_probability(labeled, params, idx.avgdl).select(
            F.col("probability").alias("p"), "y"
        )
        binned = probs.withColumn(
            "bin",
            F.least(
                F.greatest(F.floor(F.col("p") * n_bins).cast("int"), F.lit(0)),
                F.lit(n_bins - 1),
            ),
        )
        per_bin = binned.groupBy("bin").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.avg("p").alias("ap"),
            F.avg("y").alias("ay"),
        )
        row = per_bin.agg(
            F.sum(F.col("cnt") / n * F.abs(F.col("ap") - F.col("ay"))).alias("ece")
        ).crossJoin(
            probs.agg(
                F.avg(F.pow(F.col("p") - F.col("y"), 2)).alias("brier"),
                (-F.avg(
                    F.col("y") * F.log(F.greatest(F.col("p"), F.lit(1e-15)))
                    + (1 - F.col("y"))
                    * F.log(F.greatest(1 - F.col("p"), F.lit(1e-15)))
                )).alias("logloss"),
                F.avg("p").alias("mean_p"),
                F.avg("y").alias("mean_y"),
            )
        ).collect()[0]
        out[name] = {k: float(row[k]) for k in ("ece", "brier", "logloss", "mean_p", "mean_y")}
    return out


def format_calibration_table(results: dict[str, dict[str, float]]) -> str:
    """Markdown table for the base-rate calibration story, with the
    reference-style relative-improvement column vs the no-base-rate row."""
    base = results["no_base_rate"]["ece"]
    lines = [
        "| strategy | ECE | Brier | log-loss | mean p | mean y |",
        "|---|---|---|---|---|---|",
    ]
    for name, m in results.items():
        delta = "" if name == "no_base_rate" else f" ({100 * (m['ece'] - base) / base:+.1f}%)"
        lines.append(
            f"| {name} | {m['ece']:.4f}{delta} | {m['brier']:.4f} "
            f"| {m['logloss']:.4f} | {m['mean_p']:.4f} | {m['mean_y']:.4f} |"
        )
    return "\n".join(lines)


def format_quality_table(results: dict[str, dict[str, float]], k: int = 10) -> str:
    """Markdown table mirroring the reference README's quality layout.
    MAP follows the reference's own AP (benchmarks/metrics.py:62-74:
    mean precision over the relevant docs FOUND in the list — not
    normalized by total relevants, so a precise-but-shallow ranker can
    reach 1.0); NDCG@k is the headline."""
    lines = [
        f"| method | NDCG@{k} | MAP | P@{k} |",
        "|---|---|---|---|",
    ]
    for name, m in sorted(results.items(), key=lambda kv: -kv[1]["ndcg"]):
        lines.append(
            f"| {name} | {m['ndcg']:.4f} | {m['map']:.4f} | {m['p']:.4f} |"
        )
    return "\n".join(lines)
