"""User-facing facade mirroring the reference API surface.

A user of cognica-io/bayesian-bm25 drives these entry points:

    scorer = BayesianBM25Scorer(k1=1.2, b=0.75, method="lucene",
                                base_rate="auto")
    scorer.index(corpus)                      # scorer.py:250
    doc_ids, probs = scorer.retrieve(queries, k=10)   # scorer.py:494
    probs = scorer.get_probabilities(query)   # scorer.py:564
    scorer.add_documents(more)                # scorer.py:469

    mf = MultiFieldScorer(fields=[...], field_weights={...})
    mf.index(docs); mf.retrieve(queries, k)   # multi_field.py

This module provides the same call shapes on Spark: corpora can be
passed as Python token lists (convenience, small) or as DataFrames
(the real path).  Return values are numpy arrays shaped like the
reference's ``(n_queries, k)`` so downstream code ports unchanged.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bayesian_bm25_spark.operators import multi_field as MFO
from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.index_build import (
    BM25Index,
    IndexConfig,
    add_documents,
    build_index,
)
from bayesian_bm25_spark.sources.webcorpus import queries_to_df


def _pages_from_tokens(spark: SparkSession, corpus_tokens: list[list[str]],
                       start_id: int = 0) -> DataFrame:
    ids = range(start_id, start_id + len(corpus_tokens))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "url": pa.array([f"mem://doc/{i}" for i in ids], pa.string()),
        "text": pa.array([" ".join(toks) for toks in corpus_tokens], pa.string()),
        "lang": pa.array(["und"] * len(corpus_tokens), pa.string()),
    })
    return spark.createDataFrame(table, "doc_id long, url string, text string, lang string")


def _fields_from_tokens(spark: SparkSession, docs: list[dict], fields: list[str],
                        start_id: int = 0) -> DataFrame:
    """(doc_id, one text column per field) from per-field token dicts."""
    columns = {"doc_id": pa.array(range(start_id, start_id + len(docs)), pa.int64())}
    for f in fields:
        columns[f] = pa.array([" ".join(d[f]) for d in docs], pa.string())
    schema = "doc_id long, " + ", ".join(f"{f} string" for f in fields)
    return spark.createDataFrame(pa.table(columns), schema)


@dataclass
class RetrievalResult:
    """Mirror of the reference's ``retrieve(explain=True)`` result
    (reference scorer.py:145-162): ``explanations[q][r]`` is the trace
    for query q, rank r (attribute access like BM25SignalTrace), or
    None for empty ranks / explain=False."""

    doc_ids: np.ndarray
    probabilities: np.ndarray
    explanations: list | None = None


def _collect_topk(df: DataFrame, n_queries: int, k: int, value_col: str):
    doc_ids = np.full((n_queries, k), -1, dtype=np.int64)
    values = np.zeros((n_queries, k), dtype=np.float64)
    for r in df.collect():
        qi, rank = int(r["query_id"]), int(r["rank"]) - 1
        doc_ids[qi, rank] = int(r["doc_id"])
        values[qi, rank] = float(r[value_col])
    return doc_ids, values


class BayesianBM25Scorer:
    """Spark-backed drop-in for the reference scorer."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        index_path: str | None = None,
        k1: float = 1.2,
        b: float = 0.75,
        method: str = "lucene",
        alpha: float | None = None,
        beta: float | None = None,
        base_rate: float | str | None = None,
        base_rate_method: str = "percentile",
        **config_kw,
    ) -> None:
        self.spark = spark or SparkSession.builder.getOrCreate()
        self._path = index_path or tempfile.mkdtemp(prefix="bb25_index_")
        self._config = IndexConfig(
            k1=k1,
            b=b,
            method=method,
            alpha=alpha,
            beta=beta,
            base_rate=base_rate,
            base_rate_method=base_rate_method,
            **config_kw,
        )
        self._index: BM25Index | None = None
        self._scoring_src: DataFrame | None = None

    # -- build ----------------------------------------------------------

    def index(self, corpus, show_progress: bool = False) -> None:
        """Accepts ``list[list[str]]`` (reference shape) or a pages
        DataFrame (url/text[, doc_id] columns)."""
        pages = (
            corpus
            if isinstance(corpus, DataFrame)
            else _pages_from_tokens(self.spark, corpus)
        )
        self._index = build_index(self.spark, pages, self._path, self._config, force=True)
        self._drop_scoring_cache()

    def _drop_scoring_cache(self) -> None:
        """A (re)build or append invalidates the persisted scoring
        layout — unpersist so the next warm_scoring_cache rebuilds it."""
        if self._scoring_src is not None:
            self._scoring_src.unpersist()
            self._scoring_src = None

    def add_documents(self, new_corpus, show_progress: bool = False) -> None:
        if self._index is None:
            raise RuntimeError("Call index() before add_documents().")
        pages = (
            new_corpus
            if isinstance(new_corpus, DataFrame)
            else _pages_from_tokens(self.spark, new_corpus, start_id=self._index.n_docs)
        )
        self._index = add_documents(self._index, pages, self._path + "_v2")
        self._path = self._index.path
        self._drop_scoring_cache()

    # -- properties mirroring the reference ------------------------------

    @property
    def num_docs(self) -> int:
        self._require()
        return self._index.n_docs

    @property
    def avgdl(self) -> float:
        self._require()
        return self._index.avgdl

    @property
    def base_rate(self):
        self._require()
        return self._index.params.base_rate

    @property
    def transform(self):
        self._require()
        return self._index.params

    @property
    def spark_index(self) -> BM25Index:
        self._require()
        return self._index

    def _require(self) -> None:
        if self._index is None:
            raise RuntimeError("Call index() first.")

    def _maybe_stem(self, qdf: DataFrame) -> DataFrame:
        """Normalize a query DataFrame's terms exactly as the index
        tokenizer did: stopword removal on the UNSTEMMED token first,
        then stemming (the bm25s.tokenize order) — index and query
        tokenization must always agree.  Token lists take ``_normalize``
        instead."""
        cfg = self._index.config
        if cfg.stopwords is not None:
            from bayesian_bm25_spark.functions.stopwords import remove_stopwords

            qdf = qdf.withColumn(
                "terms", remove_stopwords(F.col("terms"), cfg.stopwords)
            )
        if cfg.stemmer is not None:
            from bayesian_bm25_spark.functions.stemmer import stem_terms

            return stem_terms(qdf, algorithm=cfg.stemmer)
        return qdf

    def _normalize(self, query_tokens: list[list[str]]) -> list[list[str]]:
        """``_maybe_stem`` on the driver, for token-list queries: the same
        pure functions the Spark UDFs wrap, in the same order, so the
        query-term relation and its bucket set are built locally with no
        Spark job and no Python worker."""
        cfg = self._index.config
        queries = [list(q) for q in query_tokens]
        if cfg.stopwords is not None:
            from bayesian_bm25_spark.functions.stopwords import filter_tokens_driver

            queries = [filter_tokens_driver(q, cfg.stopwords) for q in queries]
        if cfg.stemmer is not None:
            from bayesian_bm25_spark.functions.stemmer import resolve_stemmer

            stem = resolve_stemmer(cfg.stemmer)
            queries = [[stem(t) for t in q] for q in queries]
        return queries

    # -- query ------------------------------------------------------------

    def retrieve(
        self,
        query_tokens: list[list[str]],
        k: int = 10,
        show_progress: bool = False,
        explain: bool = False,
    ):
        """(doc_ids, probabilities) arrays of shape (n_queries, k);
        missing ranks hold (-1, 0.0), mirroring no-match behavior.

        ``explain=True`` returns a ``RetrievalResult`` whose
        ``explanations[q][r]`` traces each retrieved doc through the
        probability pipeline (reference scorer.py:494-562) — the trace
        struct is computed DISTRIBUTED alongside the top-k (pure Column
        math, explain_traces.bm25_trace), never per-doc on the driver."""
        self._require()
        normalized = self._normalize(query_tokens)
        qdf = Q.local_query_terms(self.spark, normalized)
        driver_terms = sorted({t for q in normalized for t in q})
        if not explain:
            res = self._route(qdf, k, driver_terms=driver_terms)
            return _collect_topk(res, len(query_tokens), k, "probability")

        from types import SimpleNamespace

        from bayesian_bm25_spark.operators import explain_traces as ET

        idx = self._index
        # explain runs the exhaustive scan (traces need every matched
        # term's contribution, which pruning paths never materialize) but
        # still honors warm_scoring_cache(): reuse the persisted doc_id
        # layout and skip the per-batch co-partition shuffle when present
        src = self._scoring_src if self._scoring_src is not None else idx.postings
        scored = Q.score_queries(
            src, qdf, n_buckets=idx.config.n_buckets,
            driver_terms=driver_terms,
            co_partition=self._scoring_src is None,
        )
        ranked = Q.topk(scored, k=k)
        traced = Q.with_probability(
            ET.retrieve_with_explanations(ranked, idx.params, idx.avgdl),
            idx.params, idx.avgdl,
        )
        n_q = len(query_tokens)
        doc_ids = np.full((n_q, k), -1, dtype=np.int64)
        probs = np.zeros((n_q, k), dtype=np.float64)
        explanations: list[list] = [[None] * k for _ in range(n_q)]
        for r in traced.collect():
            qi, rank = int(r["query_id"]), int(r["rank"]) - 1
            doc_ids[qi, rank] = int(r["doc_id"])
            probs[qi, rank] = float(r["probability"])
            if r["trace"] is not None:
                explanations[qi][rank] = SimpleNamespace(**r["trace"].asDict())
        return RetrievalResult(
            doc_ids=doc_ids, probabilities=probs, explanations=explanations
        )

    def warm_scoring_cache(self, num_partitions: int | None = None) -> None:
        """Pay the postings→doc_id re-layout ONCE and reuse it for every
        later retrieve call (query.prepartition_for_scoring).  Without
        this, each batch re-shuffles the postings into the scoring
        layout — the right default for one-shot jobs, wasteful for a
        long-lived service answering many batches.  The persisted frame
        holds only the four scoring columns, so a warmed batch skips the
        term_bucket prune and compiles no code."""
        self._require()
        if self._scoring_src is None:
            self._scoring_src = Q.prepartition_for_scoring(
                self._index.postings, num_partitions
            )

    def _route(
        self, qdf: DataFrame, k: int, driver_terms: list[str] | None = None
    ) -> DataFrame:
        """Cost-based physical choice (query.retrieve_auto): exhaustive
        co-partitioned scan on small corpora, MaxScore pruning past the
        measured crossover — rank-identical either way."""
        idx = self._index
        src = self._scoring_src if self._scoring_src is not None else idx.postings
        return Q.retrieve_auto(
            src, qdf, idx.term_stats, idx.params, idx.avgdl,
            n_docs=idx.n_docs, k=k, n_buckets=idx.config.n_buckets,
            impacts_nonnegative=(idx.config.method != "robertson"),
            driver_terms=driver_terms,
            src_partitioned=self._scoring_src is not None,
        )

    def retrieve_df(self, queries: DataFrame, k: int = 10) -> DataFrame:
        """DataFrame-native retrieval (the path to use at scale)."""
        self._require()
        return self._route(self._maybe_stem(queries), k)

    def get_probabilities(self, query_tokens: list[str]) -> np.ndarray:
        """Dense per-doc probabilities for one query (reference
        scorer.py:564-590); for sparse output at scale use
        ``get_probabilities_df``."""
        self._require()
        qdf = queries_to_df(self.spark, self._normalize([query_tokens]))
        dense = Q.get_probabilities(
            self._index.postings, qdf, self._index.params, self._index.avgdl,
            all_docs=self._index.doc_stats, n_buckets=self._index.config.n_buckets,
        )
        out = np.zeros(self._index.n_docs, dtype=np.float64)
        for r in dense.collect():
            out[int(r["doc_id"])] = float(r["probability"])
        return out

    def get_probabilities_df(self, queries: DataFrame) -> DataFrame:
        self._require()
        return Q.get_probabilities(
            self._index.postings, self._maybe_stem(queries),
            self._index.params, self._index.avgdl,
            n_buckets=self._index.config.n_buckets,
        )


class MultiFieldScorer:
    """Spark-backed drop-in for the reference multi-field scorer."""

    def __init__(
        self,
        fields: list[str],
        field_weights: dict[str, float] | None = None,
        spark: SparkSession | None = None,
        index_path: str | None = None,
        alpha: float | str | None = None,
        **config_kw,
    ) -> None:
        self.spark = spark or SparkSession.builder.getOrCreate()
        self.fields = list(fields)
        self.field_weights = field_weights
        self.alpha = alpha
        self._path = index_path or tempfile.mkdtemp(prefix="bb25_mf_index_")
        self._config = IndexConfig(**config_kw)
        self._index: MFO.MultiFieldIndex | None = None

    def index(self, docs, show_progress: bool = False) -> None:
        """Accepts ``list[dict[field, list[str]]]`` (reference shape) or a
        DataFrame with doc_id + one text column per field."""
        df = (
            docs
            if isinstance(docs, DataFrame)
            else _fields_from_tokens(self.spark, docs, self.fields)
        )
        self._index = MFO.build_multi_field_index(
            self.spark, df, self.fields, self._path,
            weights=self.field_weights, config=self._config, alpha=self.alpha,
            force=True,
        )

    def add_documents(self, docs, show_progress: bool = False) -> None:
        """Append documents (reference multi_field.py:202-236): list of
        per-field token dicts (ids continue after the existing range) or
        a DataFrame carrying explicit doc_id."""
        if self._index is None:
            raise RuntimeError("Call index() before add_documents().")
        n_docs = max(fi.n_docs for fi in self._index.per_field.values())
        df = (
            docs
            if isinstance(docs, DataFrame)
            else _fields_from_tokens(self.spark, docs, self.fields, start_id=n_docs)
        )
        self._index = MFO.add_documents_multi_field(
            self._index, df, self._path + "_v2"
        )
        self._path = self._index.path

    def retrieve(self, query_tokens: list[list[str]], k: int = 10):
        if self._index is None:
            raise RuntimeError("Call index() before retrieve().")
        qdf = queries_to_df(self.spark, query_tokens)
        res = MFO.retrieve_multi_field(self._index, qdf, k=k)
        return _collect_topk(res, len(query_tokens), k, "probability")

    def get_probabilities(self, query_tokens: list[str]) -> np.ndarray:
        if self._index is None:
            raise RuntimeError("Call index() before get_probabilities().")
        qdf = queries_to_df(self.spark, [query_tokens])
        probs = MFO.field_probabilities(self._index, qdf).withColumn(
            "probability", MFO.fused_probability_col(self._index)
        )
        n_docs = next(iter(self._index.per_field.values())).n_docs
        # docs matching no field get the conjunction of all-zero signals
        # (clamped ε), exactly as the reference's dense stack does
        from bayesian_bm25_spark.kernel.combine import log_odds_conjunction

        fill = float(
            log_odds_conjunction(
                np.zeros(len(self.fields)),
                alpha=self._index.alpha,
                weights=np.array([self._index.weights[f] for f in self.fields]),
            )
        )
        out = np.full(n_docs, fill, dtype=np.float64)
        for r in probs.collect():
            out[int(r["doc_id"])] = float(r["probability"])
        return out
