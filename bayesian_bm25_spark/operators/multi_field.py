"""Multi-field search: one independent BM25 index per field, fused by
weighted log-odds conjunction.

Reference semantics (multi_field.py:47-200):
- field weights default uniform, must sum to 1 (:69-84)
- each field gets its own index with its own α/β/base-rate estimation
  (:105-139)
- per-field dense probability vectors are stacked and combined with
  ``log_odds_conjunction(alpha=resolve(None→0.5), weights)`` (:141-174)
- retrieve = argsort desc top-k (:176-200)

Spark design: a single ``postings`` table with a ``field`` partition
column (equivalent to one table per field but keeps one scan path);
scoring runs per field, the per-field score frames are joined
full-outer on (query_id, doc_id) — a missing field contributes
probability 0 → ε after clamping, matching the reference's dense-vector
semantics where unmatched docs carry probability 0.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bayesian_bm25_spark.functions import columns as C
from bayesian_bm25_spark.kernel.combine import resolve_alpha
from bayesian_bm25_spark.kernel.transform import TransformParams
from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.index_build import (
    IndexConfig,
    _append_tf,
    _build_postings_stages,
    _estimate_params,
    _read_split_cap,
)


@dataclass
class FieldIndex:
    field: str
    postings: DataFrame
    params: TransformParams
    avgdl: float
    n_docs: int


@dataclass
class MultiFieldIndex:
    spark: SparkSession
    path: str
    fields: list[str]
    weights: dict[str, float]
    config: IndexConfig
    per_field: dict[str, FieldIndex]
    alpha: float


def validate_weights(fields: list[str], weights: dict[str, float] | None) -> dict[str, float]:
    """Uniform default; must be non-negative and sum to 1 (reference
    multi_field.py:69-84)."""
    if weights is None:
        return {f: 1.0 / len(fields) for f in fields}
    if set(weights) != set(fields):
        raise ValueError(f"weights keys {sorted(weights)} != fields {sorted(fields)}")
    vals = list(weights.values())
    if any(v < 0 for v in vals):
        raise ValueError("field weights must be non-negative")
    if abs(sum(vals) - 1.0) > 1e-6:
        raise ValueError(f"field weights must sum to 1, got {sum(vals)}")
    return dict(weights)


def _field_docs(docs: DataFrame, field: str) -> DataFrame:
    """(doc_id, tokens, doc_len) of one text column."""
    if field not in docs.columns:
        raise ValueError(f"field {field!r} missing from docs columns {docs.columns}")
    return docs.select(
        "doc_id", C.tokenize(F.col(field)).alias("tokens")
    ).withColumn("doc_len", F.size("tokens").cast("long"))


def _index_field(
    spark: SparkSession,
    fdocs: DataFrame,
    fdir: str,
    cfg: IndexConfig,
    field: str,
    force: bool = False,
    tf_source: DataFrame | None = None,
) -> FieldIndex:
    """One field's docs → corpus stats → postings through
    ``build_index``'s stages, then its params — the unit shared by the
    initial build and incremental append."""
    with _read_split_cap(spark):
        docs, n_docs, avgdl, postings, _ = _build_postings_stages(
            spark, fdir, cfg, lambda: fdocs, force, tf_source
        )
        params = _estimate_params(spark, docs, postings, cfg, n_docs)
    return FieldIndex(field, postings, params, avgdl, n_docs)


def _write_multi_field(
    spark: SparkSession,
    path: str,
    fields: list[str],
    weights: dict[str, float],
    cfg: IndexConfig,
    per_field: dict[str, FieldIndex],
    alpha: float,
) -> MultiFieldIndex:
    """Write ``multi_field.json`` and return the index handle."""
    meta = {
        "fields": fields,
        "weights": weights,
        "alpha": alpha,
        "config": cfg.to_dict(),
        "per_field": {
            f: {"params": fi.params.to_dict(), "avgdl": fi.avgdl, "n_docs": fi.n_docs}
            for f, fi in per_field.items()
        },
    }
    with open(os.path.join(path, "multi_field.json"), "w") as fp:
        json.dump(meta, fp, indent=2)
    return MultiFieldIndex(
        spark=spark,
        path=path,
        fields=fields,
        weights=weights,
        config=cfg,
        per_field=per_field,
        alpha=alpha,
    )


def build_multi_field_index(
    spark: SparkSession,
    docs: DataFrame,
    fields: list[str],
    path: str,
    weights: dict[str, float] | None = None,
    config: IndexConfig | None = None,
    alpha: float | str | None = None,
    force: bool = False,
) -> MultiFieldIndex:
    """``docs`` must carry doc_id plus one text column per field.

    Each field is tokenized, indexed, and parameter-estimated
    independently (its own pseudo-query sample over that field's token
    stream), exactly as the reference builds one scorer per field.

    Raises ``ValueError`` when ``config`` sets ``stemmer`` or
    ``stopwords``: fields are tokenized without them on both the index
    and the query side.
    """
    cfg = config or IndexConfig()
    if cfg.stemmer is not None or cfg.stopwords is not None:
        raise ValueError(
            "multi-field indexes do not support stemmer/stopwords "
            f"(got stemmer={cfg.stemmer!r}, stopwords={cfg.stopwords!r})"
        )
    w = validate_weights(fields, weights)
    per_field = {
        field: _index_field(
            spark, _field_docs(docs, field), os.path.join(path, f"field={field}"),
            cfg, field, force,
        )
        for field in fields
    }
    return _write_multi_field(
        spark, path, fields, w, cfg, per_field, resolve_alpha(alpha, default=0.5)
    )


def field_probabilities(idx: MultiFieldIndex, queries: DataFrame) -> DataFrame:
    """(query_id, doc_id, p_<field>...) — per-field probabilities joined
    full-outer; a doc unmatched in a field gets probability 0 there."""
    joined: DataFrame | None = None
    for field in idx.fields:
        fi = idx.per_field[field]
        scored = Q.with_probability(
            Q.score_queries(fi.postings, queries, n_buckets=idx.config.n_buckets),
            fi.params,
            fi.avgdl,
        ).select("query_id", "doc_id", F.col("probability").alias(f"p_{field}"))
        joined = scored if joined is None else joined.join(
            scored, ["query_id", "doc_id"], "full_outer"
        )
    out = joined
    for field in idx.fields:
        out = out.withColumn(f"p_{field}", F.coalesce(F.col(f"p_{field}"), F.lit(0.0)))
    return out


def fused_probability_col(idx: MultiFieldIndex) -> F.Column:
    probs = F.array(*[F.col(f"p_{f}") for f in idx.fields])
    weights = [idx.weights[f] for f in idx.fields]
    return C.log_odds_conjunction(probs, alpha=idx.alpha, weights=weights)


def retrieve_multi_field(idx: MultiFieldIndex, queries: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, rank, doc_id, probability): weighted-conjunction fusion
    of per-field probabilities, pinned tie-break (prob desc, doc_id asc)."""
    probs = field_probabilities(idx, queries).withColumn(
        "probability", fused_probability_col(idx)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("probability"), F.asc("doc_id"))
    return (
        probs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "probability")
    )


def add_documents_multi_field(
    idx: MultiFieldIndex, new_docs: DataFrame, new_path: str
) -> MultiFieldIndex:
    """Incremental append, multi-field (reference multi_field.py:202-236):
    every field's index is rebuilt over `old docs ∪ new docs` with fresh
    statistics and per-field α/β/base-rate re-estimation — IDF and avgdl
    change with any append, exactly like the single-index
    ``index_build.add_documents``, through the same append path: the OLD
    per-field tokenization is read back from its parquet checkpoint and
    the old postings seed the merged tf (``_append_tf``); only the new
    docs are tokenized and counted.

    ``new_docs`` must carry ``doc_id`` (≥ the existing n_docs — append
    order is the caller's id order, mirroring the reference's list
    append) plus one text column per field.
    """
    spark = idx.spark
    if "doc_id" not in new_docs.columns:
        raise ValueError("multi-field append requires an explicit doc_id column")
    n_docs = max(fi.n_docs for fi in idx.per_field.values())
    mn = new_docs.agg(F.min("doc_id")).collect()[0][0]
    if mn is not None and int(mn) < n_docs:
        raise ValueError(
            f"appended doc_id {mn} overlaps the existing range [0, {n_docs})"
        )
    per_field: dict[str, FieldIndex] = {}
    for field in idx.fields:
        add_fdocs = _field_docs(new_docs, field)
        old_fdocs = spark.read.parquet(
            os.path.join(idx.path, f"field={field}", "docs")
        )
        per_field[field] = _index_field(
            spark, old_fdocs.unionByName(add_fdocs),
            os.path.join(new_path, f"field={field}"), idx.config, field,
            force=True,
            tf_source=_append_tf(idx.per_field[field].postings, add_fdocs),
        )
    return _write_multi_field(
        spark, new_path, idx.fields, idx.weights, idx.config, per_field, idx.alpha
    )
