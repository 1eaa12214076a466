"""Physical-plan assertions: the scale properties ARCHITECTURE.md claims
are enforced here, not just described.

Each test inspects the executed/initial Spark plan string for the
property that makes the operator survive a 100× scale-up:

- scoring aggregation runs WITHOUT its own exchange (postings are
  hash-partitioned by doc_id first; HashPartitioning on a subset of the
  grouping keys satisfies the agg's distribution requirement)
- the postings scan is partition-pruned to query-term buckets
- the θ-pass cutoff build compiles to WindowGroupLimit (map-side top-B,
  no Zipf-head sort in one task)
- the query side of the scoring join is a broadcast, never a shuffle
- Column-math operators (hyperplane buckets, language id, quality)
  contain NO Python eval nodes — whole-stage codegen end to end
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index
from bayesian_bm25_spark.sources.webcorpus import generate_pages, queries_to_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plan_idx(spark, tmp_path_factory):
    pages = generate_pages(spark, 2000, seed=11, num_partitions=8)
    return build_index(
        spark, pages, str(tmp_path_factory.mktemp("idx_plans")),
        IndexConfig(alpha=1.0, beta=1.0, base_rate=0.05, build_compressed=False),
    )


class TestScoringPlan:
    def test_no_exchange_for_scoring_aggregation(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1", "w2"], ["w3"]])
        import re

        plan = plan_of(Q.score_queries(plan_idx.postings, qdf))
        # the big-side agg over (query_id, doc_id) reuses the explicit
        # doc_id repartition — no exchange keyed on the full agg key.
        # (the query-TERMS side has its own tiny exchange before the
        # broadcast; that one is O(query batch), not O(index).)
        assert "hashpartitioning(doc_id" in plan
        assert not re.search(r"hashpartitioning\(query_id#\d+L?, doc_id", plan)

    def test_prepartitioned_scoring_has_no_postings_exchange(self, plan_idx):
        """prepartition_for_scoring + co_partition=False: the persisted
        doc_id layout is REUSED — the scoring plan contains no exchange
        at all on the postings side (only the tiny query-terms broadcast
        prep), and results are identical to the per-batch-shuffle plan.
        This is the amortization a long-lived service needs: one corpus
        re-layout instead of one per batch."""
        import re

        spark = plan_idx.spark
        src = Q.prepartition_for_scoring(plan_idx.postings, 8)
        try:
            qdf = queries_to_df(spark, [["w1", "w2"], ["w3"]])
            scored = Q.score_queries(src, qdf, co_partition=False)
            plan = plan_of(scored)
            assert "InMemoryTableScan" in plan
            # the scoring agg must NOT re-shuffle: no exchange keyed on
            # the agg key above the cached scan.  (The one
            # REPARTITION_BY_NUM printed INSIDE the InMemoryRelation is
            # the already-materialized layout build itself — executed
            # once at prepartition time, not per batch.)
            assert not re.search(
                r"Exchange hashpartitioning\(query_id#\d+L?, doc_id", plan
            ), plan
            base = {
                (r["query_id"], r["doc_id"], round(r["score"], 9))
                for r in Q.score_queries(plan_idx.postings, qdf).collect()
            }
            got = {
                (r["query_id"], r["doc_id"], round(r["score"], 9))
                for r in scored.collect()
            }
            assert got == base
        finally:
            src.unpersist()

    def test_warm_lane_exchange_free_at_bench_partition_count(self, plan_idx):
        """The official bench's always-on warm lane (bench.py: p = 2×cores
        = 64 at the 32-core default) must keep the exchange-free scoring
        property at ITS partition count, not just the small fixture count
        — pins the plan the query_qps_warm number is measured on."""
        import re

        spark = plan_idx.spark
        src = Q.prepartition_for_scoring(plan_idx.postings, 64)
        try:
            qdf = queries_to_df(spark, [["w1", "w2"], ["w3"]])
            scored = Q.score_queries(src, qdf, co_partition=False)
            plan = plan_of(scored)
            assert "InMemoryTableScan" in plan
            assert not re.search(
                r"Exchange hashpartitioning\(query_id#\d+L?, doc_id", plan
            ), plan
        finally:
            src.unpersist()

    def test_query_side_is_broadcast(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1"]])
        plan = plan_of(Q.score_queries(plan_idx.postings, qdf))
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_bucket_partition_pruning_reaches_scan(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1"]])
        pruned = Q.prune_query_terms_buckets(
            plan_idx.postings, Q.query_terms(qdf), plan_idx.config.n_buckets
        )
        plan = plan_of(pruned)
        # the term_bucket filter lands in the scan's PartitionFilters —
        # a layout-pruned read, not a post-scan filter
        scan = plan[plan.index("PartitionFilters"):]
        assert "term_bucket" in scan.split("]")[0]


class TestBuildPlan:
    def test_theta_cutoff_uses_window_group_limit(self, plan_idx):
        from pyspark.sql import Window

        w = Window.partitionBy("term").orderBy(F.desc("impact"), F.asc("doc_id"))
        cutoff = (
            plan_idx.postings.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= 128)
            .groupBy("term")
            .agg(F.min("impact").alias("prefix_cutoff"))
        )
        assert "WindowGroupLimit" in plan_of(cutoff)


class TestCodegenOnlyOperators:
    PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas")

    def _assert_no_python(self, df):
        plan = plan_of(df)
        for node in self.PY_EVAL_NODES:
            assert node not in plan, f"{node} found in plan"

    def test_hyperplane_buckets_pure_column(self, spark):
        from bayesian_bm25_spark.operators.similarity import hyperplane_lsh_buckets

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        self._assert_no_python(hyperplane_lsh_buckets(emb, 64, n_bits=4))

    def test_text_analysis_pure_column(self, spark):
        from bayesian_bm25_spark.operators.text_analysis import (
            language_id,
            quality_features,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        self._assert_no_python(language_id(docs.select("doc_id", "lang", "text")))
        self._assert_no_python(quality_features(docs.select("doc_id", "text")))

    def test_probability_path_pure_column(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1"]])
        scored = Q.with_probability(
            Q.score_queries(plan_idx.postings, qdf),
            plan_idx.params,
            plan_idx.avgdl,
        )
        self._assert_no_python(scored)


class TestSimhashPlan:
    def test_simhash_fold_has_no_exchange(self, spark):
        """simhash64 must stay a pure map-side pipeline: scan → explode
        (narrow: a doc's shingles stay contiguous in its partition) →
        mapInPandas fold.  A groupBy/collect_list here would shuffle
        every shingle hash — ~the corpus token count in bytes."""
        from bayesian_bm25_spark.operators import dedup as DD

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(DD.simhash64(docs))
        assert "Exchange" not in plan
        assert "MapInPandas" in plan


class TestRegistryConsistency:
    def test_bench_headline_names_exist(self):
        """bench.py's headline suite must never silently drift from the
        entry registry (VERDICT r4 #8): every benched name is a
        registered entry, and the oracle map only covers registered
        entries."""
        import importlib.util

        from bayesian_bm25_spark.entry_queries import ORACLE_SQL, SPARK_QUERIES

        spec = importlib.util.spec_from_file_location(
            "bench", "/root/repo/bench.py"
        )
        bench = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(bench)
        assert set(bench.HEADLINE) <= set(SPARK_QUERIES)
        assert set(ORACLE_SQL) <= set(SPARK_QUERIES)

    def test_bucket_prune_dataframe_path_is_lazy_semi_join(self, spark, plan_idx):
        """DataFrame-resident query batches prune via a broadcast LEFT
        SEMI join on term_bucket (DPP-prunable at the partitioned scan)
        — NOT a blocking per-batch collect (VERDICT r4 wrong-#3)."""
        from bayesian_bm25_spark.operators import query as Q
        from bayesian_bm25_spark.sources.webcorpus import queries_to_df

        qt = Q.query_terms(queries_to_df(spark, [["alpha", "beta"]]))
        pruned = Q.prune_query_terms_buckets(
            plan_idx.postings, qt, n_buckets=32
        )
        plan = plan_of(pruned)
        assert "LeftSemi" in plan or "left_semi" in plan.lower()
        # driver path still produces the static IN-filter (zero jobs)
        static = Q.prune_query_terms_buckets(
            plan_idx.postings, qt, n_buckets=32, driver_terms=["alpha"]
        )
        assert "term_bucket" in plan_of(static)


class TestPostingsWriteSizing:
    """The postings narrow-coalesce must fill the cluster on mid-size
    corpora: the round-6 pair's event-log audit caught the old 8-task
    floor running the 16-core leg half-idle for 27.5s of a 122.8s
    build (BENCH/BASELINE.md r6 addendum 5)."""

    def test_tiny_corpus_keeps_file_count_guard(self):
        from bayesian_bm25_spark.operators.index_build import (
            _postings_write_tasks,
        )

        # 50k-doc bench corpus (~12 MB docs): stays at 8 on any wide
        # cluster — the 1024-tiny-files trap the guard exists for
        assert _postings_write_tasks(12 << 20, 32) == 8
        # narrow cluster: never above what bytes+floor justify
        assert _postings_write_tasks(12 << 20, 4) == 4

    def test_mid_corpus_fills_the_cluster(self):
        from bayesian_bm25_spark.operators.index_build import (
            _postings_write_tasks,
        )

        # the round-6 pair shape: 1M docs ≈ 230 MB docs checkpoint →
        # by_bytes=8; 16-core leg must get 16 tasks (old code: 8)
        assert _postings_write_tasks(230 << 20, 16) == 16
        # 4-core leg unchanged: byte-proportional 8 ≥ width
        assert _postings_write_tasks(230 << 20, 4) == 8

    def test_big_corpus_is_byte_proportional(self):
        from bayesian_bm25_spark.operators.index_build import (
            _postings_write_tasks,
        )

        assert _postings_write_tasks(10 << 30, 16) == 320  # 10 GB / 32 MB
        # monotone in bytes at fixed width
        prev = 0
        for gb in (1, 2, 4, 8, 16):
            cur = _postings_write_tasks(gb << 30, 32)
            assert cur >= prev
            prev = cur
